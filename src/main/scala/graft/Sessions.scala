package graft

import org.apache.spark.sql.SparkSession

/** ONE place for the session posture every surface shares (r15). Bench
  * and Verify gained `canChangeCachedPlanOutputPartitioning=true` in r14,
  * but TestSession / Explain / PlanAudit still ran with the default
  * (false) — so plan pins and dumps exercised a different cached-plan AQE
  * posture than the verified/benched path (ADVICE r14). Every builder now
  * starts here; surfaces add only their own extras (Bench: streaming
  * progress cap; tests: appName). That includes the local filesystem:
  * Hadoop caches one `file:` FileSystem per JVM, so a session built
  * elsewhere, or a FileSystem made before the session, keeps Hadoop's.
  */
object Sessions {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // storage-partitioned planning for DSv2 sources that report a
      // KeyGroupedPartitioning (the ArchiveSource by_type layout, q194)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // Let AQE re-optimize (coalesce) the materialization of CACHED
      // plans (r14, guide §2.2): the iterative graph family persists its
      // edge/rank tables each round, and with this off (the default)
      // every cache pins the pre-AQE shuffle partition count. Scale-
      // adaptive on any corpus: partition counts derive from AQE's
      // advisory byte size, not a constant.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      // `file:` through graft.io's fork-free local filesystem: without
      // libhadoop, Hadoop's own launches chmod and readlink processes
      // for the files and renames of every epoch commit
      .config("spark.hadoop.fs.file.impl",
        classOf[io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[io.ForkFreeLocalFs].getName)
}
