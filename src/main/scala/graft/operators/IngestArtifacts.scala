package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared persistence for INGEST-TIME ARTIFACTS — the tables a corpus
  * carries beside its data: ANN fits (IVF centroids, PQ codebooks, SQ8
  * min/max — Similarity) and near-dup cluster labels (d03 — Dedup).
  * Each is computed once when data lands, written as a tiny parquet
  * table, and READ by every query-path consumer; per-JVM memo maps are
  * only caches over the table, so a second session (or a second driver
  * on a cluster) finds the artifact instead of re-computing.
  *
  * Every producer here is a PURE FUNCTION of the corpus (deterministic
  * integer k-means, md5-seeded minhash banding), so artifact and
  * re-compute are bit-identical — which is what lets the DuckDB oracles
  * keep replaying the computations from the raw corpus while the engine
  * serves from the table.
  *
  * In production the artifact root lives NEXT TO the corpus (s3a://…);
  * the sandbox corpus dirs are read-only, so the default root maps each
  * data dir to a stable sibling under java.io.tmpdir — override with
  * SPARK_GRAFT_ARTIFACTS. Staleness is impossible on the LAYOUT axis
  * (fit parameters ride in the table name — a constant bump can never
  * read a stale layout) and bounded on the CONTENT axis: a cheap corpus
  * content fingerprint (file names + lengths + mtimes, round 13) rides
  * in the directory name, so a corpus regenerated IN PLACE lands at a
  * new fingerprint and recomputes instead of silently serving the old
  * corpus's fits/labels. Consumers' per-JVM memo maps key by
  * [[memoKey]] (which folds in the same fingerprint), so an in-place
  * refresh also invalidates live sessions, not just the on-disk path —
  * and superseded-fingerprint memo entries are EVICTED when the fresh
  * fingerprint is first observed (registered caches, [[registerMemo]]),
  * so a long-lived driver does not accumulate dead cached DataFrames.
  *
  * The fingerprint listing is TTL-MEMOIZED per corpus dir (round 14 —
  * previously every artifact/memo access re-listed the corpus
  * recursively, which on an object-store corpus of 10⁵-10⁷ objects is
  * an O(objects) LIST per query construction). Staleness detection only
  * needs EVENTUAL freshness, so one listing per
  * `graft.artifacts.fp.ttl.ms` window (default 30 s; 0 = re-list every
  * call, the round-13 behavior, used by the mutation spec) is the
  * contract: a live session notices an in-place corpus refresh within
  * one TTL, or immediately after an explicit [[refresh]].
  *
  * Publication is write-to-unique-temp + rename-into-place, hardened
  * (round 13) against the cross-JVM failure shapes the per-JVM,
  * per-path lock cannot cover: (1) a table dir WITHOUT _SUCCESS is
  * treated as corrupt — deleted and re-published, not read — but only
  * once it is STALE (no write activity for
  * `graft.artifacts.repair.grace.ms`, default 60 s; round 14): on the
  * documented s3a production target a
  * non-atomic rename makes a concurrent producer's mid-publish table
  * indistinguishable from a crashed one by shape alone, so the repair
  * path waits out a FRESH partial (its newest mtime keeps advancing
  * while a live producer writes; the marker normally lands within the
  * grace window) and only deletes once the partial has gone quiet —
  * two cold-starting JVMs converge instead of deleting each other's
  * output. (2) A rename that lands AFTER a concurrent winner published
  * (HDFS rename onto an existing dir nests the temp INSIDE it) is
  * cleaned up by checking for the nested path after every rename, and
  * the attempt retried with a short randomized backoff so racing JVMs
  * de-synchronize. readOrCreate either returns a _SUCCESS-marked table
  * or throws; it never reads a partial. Residual documented
  * divergence: a producer that stalls longer than the grace window
  * mid-publish can still be repaired over; producers are pure
  * functions, so the content converges bit-identical and the only
  * exposure is a transient read failure in a third session during the
  * window — closing it entirely would need an external lock service,
  * which the reference (a single-process daemon) does not have either. */
object IngestArtifacts {
  // one lock per artifact path: a JVM publishes each table once, while
  // unrelated tables (the ANN fit and the d03 labels in
  // SparkEntry.prepare) compute concurrently; one entry per table a JVM
  // ever touches (a handful), never a scale concern
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** One listing per corpus dir per TTL window; 0 disables the memo. */
  private def fpTtlMs: Long =
    sys.props.get("graft.artifacts.fp.ttl.ms").map(_.toLong).getOrElse(30000L)

  /** Quiet period after which an unmarked partial counts as crashed. */
  private def repairGraceMs: Long =
    sys.props.get("graft.artifacts.repair.grace.ms")
      .map(_.toLong).getOrElse(60000L)

  // corpus dir -> (listedAtMs, fingerprint); entries are one tuple per
  // corpus dir a JVM ever touches (a handful), never a scale concern
  private val fpCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, String)]

  /** Recursive listings actually performed — the instrumentation the
    * TTL spec counts (IngestArtifactsSpec: a repeated-access loop must
    * cost at most one listing per dir per TTL window). */
  private[graft] val listingCount = new java.util.concurrent.atomic.AtomicLong

  // memo maps registered by artifact consumers (Similarity's fit
  // caches, Dedup's label cache) so superseded-fingerprint entries can
  // be dropped the moment a fresh fingerprint is observed
  @volatile private var memoRegistry:
      List[scala.collection.concurrent.Map[(SparkSession, String, String), _]] =
    Nil

  /** Register a memo map keyed by [[memoKey]] for stale-entry eviction
    * when its corpus dir's fingerprint changes. */
  def registerMemo(
      m: scala.collection.concurrent.Map[(SparkSession, String, String), _])
      : Unit = synchronized { memoRegistry = m :: memoRegistry }

  /** Drop the memoized fingerprint for `d` so the next access re-lists
    * immediately — the explicit hook for "I just rewrote this corpus,
    * don't wait out the TTL". */
  def refresh(d: String): Unit = fpCache.remove(d)

  /** Cheap corpus content fingerprint: (relative path, length, mtime) of
    * every file under `d`, order-normalized and folded into 64 bits.
    * Catches in-place regeneration (new lengths/mtimes) without reading
    * any data bytes. TTL-memoized per dir (see object scaladoc): the
    * recursive listing runs at most once per TTL window, and a
    * fingerprint CHANGE evicts superseded entries from every registered
    * memo map. */
  private[graft] def fingerprint(
      d: String, conf: Configuration = new Configuration()): String = {
    val now = System.currentTimeMillis()
    val prior = fpCache.get(d)
    prior match {
      case Some((at, fp)) if now - at < fpTtlMs => fp
      case _ =>
        val fp = listFingerprint(d, conf)
        fpCache.put(d, (now, fp))
        if (prior.exists(_._2 != fp)) evictStaleMemos(d, fp)
        fp
    }
  }

  private def listFingerprint(d: String, conf: Configuration): String = {
    listingCount.incrementAndGet()
    val p = new Path(d)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return "absent"
    val base = fs.makeQualified(p).toString
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      entries += ((st.getPath.toString.stripPrefix(base),
        st.getLen, st.getModificationTime))
    }
    val h = entries.sortBy(_._1).foldLeft(1125899906842597L) {
      case (acc, (name, len, mtime)) =>
        ((acc * 31 + name.hashCode) * 31 + len) * 31 + mtime
    }
    f"$h%016x"
  }

  private def evictStaleMemos(d: String, fresh: String): Unit =
    memoRegistry.foreach { m =>
      m.keys.foreach {
        case k @ (_, dir, fp) if dir == d && fp != fresh => m.remove(k)
        case _ =>
      }
    }

  def path(d: String, table: String,
      conf: Configuration = new Configuration()): String = {
    // the sys-prop override exists for tests that must point a LIVE JVM
    // at a fresh root (ArtifactRaceSpec); deployments use the env var
    val root = sys.props.get("graft.artifacts.root")
      .orElse(sys.env.get("SPARK_GRAFT_ARTIFACTS"))
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft-artifacts")
    s"$root/${d.replaceAll("[^A-Za-z0-9._-]", "_")}-${fingerprint(d, conf)}/$table"
  }

  /** Key for per-JVM memo maps layered over artifacts (Similarity's
    * fit caches, Dedup's label cache): folds in the corpus fingerprint
    * so an in-place corpus regeneration invalidates the live-session
    * memo too — the on-disk path alone only protects NEW sessions. */
  def memoKey(s: SparkSession, d: String): (SparkSession, String, String) =
    (s, d, fingerprint(d, s.sessionState.newHadoopConf()))

  /** Milliseconds since the newest write under `p` (the dir itself or
    * any direct child — parquet writers touch direct children last);
    * MaxValue if the dir vanished mid-check (treat as stale/absent). */
  private def quietMs(fs: FileSystem, p: Path): Long =
    try {
      var newest = fs.getFileStatus(p).getModificationTime
      fs.listStatus(p).foreach { st =>
        newest = math.max(newest, st.getModificationTime)
      }
      System.currentTimeMillis() - newest
    } catch { case _: java.io.IOException => Long.MaxValue }

  /** Read `table` under `d`'s artifact dir; on a miss, materialize it
    * with `compute` (write-then-reread — consumers always read the
    * artifact, so the ingest and query paths cannot drift apart). */
  def readOrCreate(s: SparkSession, d: String, table: String)(
      compute: => DataFrame): DataFrame = {
    val conf = s.sessionState.newHadoopConf()
    val p = new Path(path(d, table, conf))
    val fs = p.getFileSystem(conf)
    def published() = fs.exists(new Path(p, "_SUCCESS"))
    locks.computeIfAbsent(p.toString, _ => new Object).synchronized {
      val rnd = new scala.util.Random(p.hashCode)
      var attempts = 0
      while (!published() && attempts < 3) {
        attempts += 1
        if (fs.exists(p)) {
          // exists-without-_SUCCESS: crashed producer OR a concurrent
          // one mid-publish. Wait out a FRESH partial (a live producer
          // keeps its mtimes advancing and lands the marker shortly);
          // repair only once it has been quiet past the grace window.
          val grace = repairGraceMs
          val deadline = System.currentTimeMillis() + grace + 2000
          while (!published() && fs.exists(p) && quietMs(fs, p) < grace
              && System.currentTimeMillis() < deadline) {
            Thread.sleep(25 + rnd.nextInt(50))
          }
          if (published()) ()
          else if (fs.exists(p)) fs.delete(p, true) // quiet past grace: corrupt
        }
        if (!published()) {
          val tmp = new Path(s"$p.tmp-${java.util.UUID.randomUUID}")
          compute.write.mode("overwrite").parquet(tmp.toString)
          if (!fs.rename(tmp, p)) {
            // lost a cross-JVM race (or FS refused): drop the temp; the
            // loop re-checks whether a winner published a valid table
            fs.delete(tmp, true)
          } else {
            // A rename that returns true can still have landed INSIDE a
            // concurrently-published p (HDFS renames onto an existing dir
            // by moving the source into it). Always sweep the nested
            // path: if our temp is inside the winner's table it would
            // corrupt their reads, whether or not their marker is up yet.
            val nested = new Path(p, tmp.getName)
            if (fs.exists(nested)) fs.delete(nested, true)
          }
          // racing JVMs de-synchronize before the next attempt
          if (!published()) Thread.sleep(10 + rnd.nextInt(40))
        }
      }
      if (!published())
        throw new IllegalStateException(
          s"artifact publication failed after $attempts attempts: $p")
    }
    s.read.parquet(p.toString)
  }
}
