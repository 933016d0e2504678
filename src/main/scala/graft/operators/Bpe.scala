package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.{TextFunctions => T}
import graft.functions.Rounding.r4

/** Byte-pair-encoding vocabulary TRAINING and APPLICATION as Spark jobs —
  * the tokenizer half of the training-data pipeline (t19 counts only the
  * first round's merge candidates; this runs the loop and tokenizes).
  *
  * Scale shape: the corpus is touched ONCE, collapsing to the
  * (source, word, count) TYPE table — the classic BPE-trainer reduction
  * (a 100 TB corpus has a few million word types; Zipf does the
  * compression). Every training round is then: one map-side-combined
  * pair-count aggregate over the types table, a collect of exactly ONE
  * row (the argmax merge — the only driver traffic, 1 row × M rounds),
  * and a typed map applying the merge to the symbol arrays. Each round
  * is a `Rounds.iterate` cut whose one action is that argmax, so lineage
  * never grows and a superseded round is freed as soon as its successor
  * is cached; the types table stays cached and partition-stable
  * throughout. Application to unseen text reuses the learned merge list
  * as a broadcast ranking — per-word greedy lowest-rank-first merging,
  * embarrassingly parallel.
  */
object Bpe {

  /** One learned merge: rank r, left a, right b, fused a+b. */
  final case class Merge(rank: Int, a: String, b: String)

  /** Greedy BPE application: start from characters, repeatedly fuse the
    * LOWEST-RANK adjacent pair present (left-most on rank ties) until no
    * learned merge applies — the standard (GPT-2-style) apply loop. */
  private[graft] def applyMerges(word: String,
      rank: Map[(String, String), Int]): Vector[String] = {
    var syms = word.map(_.toString).toVector
    var done = syms.length < 2
    while (!done) {
      var bestIdx = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) done = true
      else {
        syms = (syms.take(bestIdx) :+ (syms(bestIdx) + syms(bestIdx + 1))) ++
          syms.drop(bestIdx + 2)
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  /** Train `m` merges on the corpus's word-type table. Deterministic:
    * the argmax merge breaks count ties on (a, b) lexicographically.
    * Returns merges in rank order.
    *
    * Each round stays fully codegen'd: pair counting is an
    * explode + hash-agg + TakeOrdered(1), and the merge application is
    * an `aggregate` HOF fold — append x, or replace the tail symbol
    * with a+b when (tail, x) == (a, b). The fold is equivalent to the
    * greedy left-to-right scan: after a merge the tail becomes a+b,
    * which can never equal `a` again (b nonempty), so no double-merge,
    * and overlapping runs (aaa under (a,a)) resolve identically. The
    * type table is small, so it coalesces to a few partitions — round
    * cost is dominated by job latency, not data. */
  private[graft] def train(spark: SparkSession, types: DataFrame,
      m: Int): Seq[Merge] = {
    // the argmax merge of a round: at most one (a, b, n) row
    val argmax: DataFrame => Seq[Row] = _.filter(size(col("syms")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(0, size(syms) - 2), " +
          "i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("wc").as("n"))
      .orderBy(col("n").desc, col("a"), col("b"))
      .take(1).toSeq
    def fuse(cur: DataFrame, top: Seq[Row]): DataFrame = {
      val (a, b) = (top.head.getString(0), top.head.getString(1))
      cur.select(col("wc"), aggregate(col("syms"),
        array().cast("array<string>"),
        (acc, x) =>
          when(size(acc) > 0 &&
              element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x)))).as("syms"))
    }
    // AQE OFF for the loop (r15, guide §1/§2.4): the types table is a
    // few thousand rows coalesced to 8 partitions, so each round is pure
    // job-dispatch latency — with AQE on, every round's take(1)
    // materializes 2-3 query stages = 2-3 job submissions (layer record:
    // 100 jobs / 1.9 s of task time for a 8.8 s wall). AQE-off runs each
    // round's whole 2-stage plan as ONE job. This is the OPPOSITE call
    // from q96's loop, whose per-round exchanges carry real data and
    // need AQE's partition coalescing — here the loop input is
    // pre-coalesced and vocabulary-sized, so there is nothing for AQE to
    // adapt. Restored via try/finally; queries run sequentially in the
    // bench/verify session, so the scoped flip cannot leak mid-query.
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    try {
      // (count, symbols) per word type; symbols start as characters. One
      // job per round: the argmax both finds the merge and fills the
      // round's cache; `m` merges take the start and m - 1 rounds.
      val trajectory = Seq.newBuilder[Row]
      val probe: DataFrame => Seq[Row] = df => {
        val top = argmax(df); trajectory ++= top; top }
      if (m > 0) {
        val start = Rounds.cut(types.select(col("wc"),
            expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
              .as("syms"))
          .coalesce(8), probe)
        val (last, _) = Rounds.iterate(start, m - 1,
          (_, top) => top.isEmpty, probe)(fuse)
        start._1.unpersist(blocking = false)
        last.unpersist(blocking = false)
      }
      trajectory.result().zipWithIndex.map { case (r, i) =>
        Merge(i, r.getString(0), r.getString(1)) }
    } finally spark.conf.set(aqeKey, prevAqe)
  }

  // ---------------------------------------------------------------- t20
  /** Train 30 merges on the corpus, tokenize every word type with them,
    * and report the per-source compression the tokenizer achieves:
    * running words, BPE tokens, tokens/word, chars/token. Deterministic
    * (tie-broken training + greedy apply) but not SQL-expressible —
    * registered rows-only; TextPropertySpec carries the correctness
    * gates (round-trip concat, zero-merge = characters, planted-merge
    * recovery, monotone token counts). */
  val t20BpeTokenize = QueryDef.checkpointed(
    "t20_bpe_tokenize",
    (s, d) => {
      import s.implicits._
      val types = Tables.documents(s, d)
        .select(col("source"), explode(T.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("wc"))
        .cache()
      val free = () => types.unpersist(blocking = false): Unit
      val merges =
        try train(s, types.groupBy("w").agg(sum("wc").as("wc")), 30)
        catch { case t: Throwable => free(); throw t }
      val rank = merges.map(mg => (mg.a, mg.b) -> mg.rank).toMap
      val bRank = s.sparkContext.broadcast(rank)
      val perWord = types.as[(String, String, Long)].map {
        case (src, w, wc) =>
          (src, wc, applyMerges(w, bRank.value).length.toLong, w.length.toLong)
      }.toDF("source", "wc", "n_toks", "n_chars")
      val out = perWord.groupBy("source")
        .agg(sum("wc").as("n_words"),
          sum(col("n_toks") * col("wc")).as("n_tokens_bpe"),
          r4(sum(col("n_toks") * col("wc")).cast("double") / sum("wc"))
            .as("tokens_per_word"),
          r4(sum(col("n_chars") * col("wc")).cast("double") /
            sum(col("n_toks") * col("wc"))).as("chars_per_token"))
        .orderBy("source")
      (out, free)
    },
    None)

  val all: Seq[QueryDef] = Seq(t20BpeTokenize)
}
