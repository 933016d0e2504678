package graft

import graft.operators.IngestArtifacts
import org.apache.spark.sql.functions._

/** The ingest-artifact contract (rounds 13-14): artifacts are keyed by
  * a corpus CONTENT fingerprint, not just its path — a corpus
  * regenerated in place recomputes instead of silently serving stale
  * fits/labels — and publication is crash-safe: a table dir without
  * _SUCCESS that has gone QUIET past the repair grace window (crashed
  * producer) is repaired, never read, while a FRESH one (a live
  * concurrent producer mid-publish) is waited out. The fingerprint
  * listing itself is TTL-memoized (round 14): repeated artifact/memo
  * accesses cost at most one recursive listing per TTL window, and a
  * fingerprint change evicts superseded entries from registered memo
  * maps. */
class IngestArtifactsSpec extends SparkSpec {

  private def writeCorpus(dir: String, tag: String): Unit =
    spark.range(100)
      .select(col("id"), concat(lit(tag), col("id")).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  /** Run `body` with fingerprint TTL and repair grace pinned (ms). */
  private def withProps(ttlMs: Long, graceMs: Long)(body: => Unit): Unit = {
    val saved = Seq("graft.artifacts.fp.ttl.ms",
      "graft.artifacts.repair.grace.ms").map(k => k -> sys.props.get(k))
    sys.props("graft.artifacts.fp.ttl.ms") = ttlMs.toString
    sys.props("graft.artifacts.repair.grace.ms") = graceMs.toString
    try body finally saved.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props.remove(k)
    }
  }

  test("unchanged corpus cache-hits; in-place mutation recomputes") {
    // ttl=0: every access re-lists, the round-13 behavior this pin was
    // written against — production relies on TTL expiry or refresh()
    withProps(ttlMs = 0, graceMs = 0) {
      val corpus = tmpDir("ia-corpus")
      writeCorpus(corpus, "alpha-")
      var computes = 0
      def art() = IngestArtifacts.readOrCreate(spark, corpus, "probe.parquet") {
        computes += 1
        spark.read.parquet(s"$corpus/documents.parquet")
          .agg(sum(length(col("text"))).as("total_len")).coalesce(1)
      }
      val v1 = art().collect()(0).getLong(0)
      val v1Again = art().collect()(0).getLong(0)
      assert(computes == 1, "unchanged corpus must serve the cached artifact")
      assert(v1 == v1Again)

      // regenerate the corpus IN PLACE at the same path — different
      // content length guarantees a new (length, mtime) fingerprint even
      // on a coarse-mtime filesystem
      Thread.sleep(10)
      writeCorpus(corpus, "a-much-longer-beta-tag-")
      val v2 = art().collect()(0).getLong(0)
      assert(computes == 2,
        "mutated corpus must land at a new fingerprint and recompute")
      assert(v2 != v1, "recomputed artifact must reflect the new corpus")
      // and the refreshed corpus cache-hits from then on
      art()
      assert(computes == 2)
    }
  }

  test("a STALE table dir without _SUCCESS is repaired, not read") {
    withProps(ttlMs = 0, graceMs = 0) { // grace 0: any partial is stale
      val corpus = tmpDir("ia-crash")
      writeCorpus(corpus, "gamma-")
      var computes = 0
      def art() = IngestArtifacts.readOrCreate(spark, corpus, "probe.parquet") {
        computes += 1
        spark.range(3).select(col("id"), lit(computes).as("gen")).coalesce(1)
      }
      assert(art().agg(max("gen")).collect()(0).getInt(0) == 1)
      // simulate a crashed producer: the table exists but the marker is
      // gone (the shape a non-atomic s3a rename or a mid-write kill leaves)
      val marker = new java.io.File(
        IngestArtifacts.path(corpus, "probe.parquet"), "_SUCCESS")
      assert(marker.exists())
      assert(marker.delete())
      val repaired = art()
      assert(computes == 2, "a partial (no _SUCCESS) artifact must recompute")
      assert(marker.exists(), "repair must republish the _SUCCESS marker")
      assert(repaired.agg(max("gen")).collect()(0).getInt(0) == 2,
        "the repaired table must carry the fresh computation")
    }
  }

  test("a FRESH partial (live concurrent producer) is waited out, not deleted") {
    // grace 10s >> the 300ms it takes the 'producer' thread below to
    // land the marker: the reader must wait for the marker instead of
    // deleting the fresh partial and recomputing over it
    withProps(ttlMs = 0, graceMs = 10000) {
      val corpus = tmpDir("ia-race")
      writeCorpus(corpus, "delta-")
      // producer's published table, then strip the marker to leave the
      // mid-publish shape a concurrent non-atomic rename exposes
      var computes = 0
      def art() = IngestArtifacts.readOrCreate(spark, corpus, "probe.parquet") {
        computes += 1
        spark.range(3).select(col("id"), lit(7).as("gen")).coalesce(1)
      }
      art()
      assert(computes == 1)
      val dir = new java.io.File(IngestArtifacts.path(corpus, "probe.parquet"))
      val marker = new java.io.File(dir, "_SUCCESS")
      assert(marker.delete())
      dir.setLastModified(System.currentTimeMillis()) // fresh: producer alive
      // the 'producer' lands its marker 300ms from now
      val producer = new Thread(() => {
        Thread.sleep(300)
        marker.createNewFile(): Unit
      })
      producer.start()
      val t0 = System.nanoTime()
      val df = art() // must block on the fresh partial, then read it
      val waitedMs = (System.nanoTime() - t0) / 1000000
      producer.join()
      assert(computes == 1,
        "a fresh partial must be waited out — deleting it would race a " +
          "live producer (two cold JVMs thrashing each other's output)")
      assert(df.agg(max("gen")).collect()(0).getInt(0) == 7,
        "the reader must serve the producer's table once the marker lands")
      assert(waitedMs >= 250,
        s"reader returned after ${waitedMs}ms — before the marker landed")
    }
  }

  test("fingerprint is TTL-memoized: repeated accesses cost one listing") {
    withProps(ttlMs = 600000, graceMs = 0) {
      val corpus = tmpDir("ia-ttl")
      writeCorpus(corpus, "epsilon-")
      IngestArtifacts.refresh(corpus) // drop any entry from a prior test
      val before = IngestArtifacts.listingCount.get()
      (1 to 50).foreach { _ =>
        IngestArtifacts.memoKey(spark, corpus)
        IngestArtifacts.path(corpus, "probe.parquet")
      }
      val listings = IngestArtifacts.listingCount.get() - before
      assert(listings == 1,
        s"100 artifact/memo accesses inside one TTL window cost $listings " +
          "listings — the memoKey path must not re-list the corpus per call")
      // refresh() is the explicit staleness hook: next access re-lists
      IngestArtifacts.refresh(corpus)
      IngestArtifacts.memoKey(spark, corpus)
      assert(IngestArtifacts.listingCount.get() - before == 2,
        "refresh(dir) must force the next access to re-list immediately")
    }
  }

  test("a fingerprint change evicts superseded entries from registered memos") {
    withProps(ttlMs = 0, graceMs = 0) {
      val corpus = tmpDir("ia-evict")
      writeCorpus(corpus, "zeta-")
      val memo = scala.collection.concurrent.TrieMap
        .empty[(org.apache.spark.sql.SparkSession, String, String), String]
      IngestArtifacts.registerMemo(memo)
      val k1 = IngestArtifacts.memoKey(spark, corpus)
      memo.put(k1, "fit-over-old-corpus")
      Thread.sleep(10)
      writeCorpus(corpus, "a-much-longer-eta-tag-") // in-place mutation
      val k2 = IngestArtifacts.memoKey(spark, corpus)
      assert(k2 != k1, "mutation must change the memo key")
      assert(!memo.contains(k1),
        "the superseded-fingerprint entry must be evicted, not accumulate")
    }
  }

  test("unrelated artifacts publish concurrently: the lock is per table") {
    // each compute waits inside readOrCreate for the OTHER table's
    // compute to start — a JVM-wide publication lock would hold the
    // second thread outside until the first timed out
    val corpus = tmpDir("ia-concurrent")
    writeCorpus(corpus, "theta-")
    val started = Seq.fill(2)(new java.util.concurrent.CountDownLatch(1))
    val met = Seq.fill(2)(new java.util.concurrent.atomic.AtomicBoolean)
    val threads = (0 to 1).map { i =>
      new Thread(() => {
        IngestArtifacts.readOrCreate(spark, corpus, s"table$i.parquet") {
          started(i).countDown()
          met(i).set(started(1 - i).await(10,
            java.util.concurrent.TimeUnit.SECONDS))
          spark.range(1).select(lit(i).as("t")).coalesce(1)
        }
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(met.forall(_.get()),
      "two different tables must compute at the same time, not in turn")
  }
}
