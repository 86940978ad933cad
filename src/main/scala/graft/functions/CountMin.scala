package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Count-Min sketch over the corpus token stream (Cormode &
  * Muthukrishnan, "An Improved Data Stream Summary: The Count-Min
  * Sketch and its Applications", J. Algorithms 2005) — the
  * fixed-memory frequency summary a 100 TB pipeline keeps when exact
  * per-token counts are too wide to materialize: depth×width cells
  * regardless of vocabulary, point queries overestimate-only, and the
  * summary MERGES by cell-wise addition (sketch(A ∪ B) =
  * sketch(A) + sketch(B) — proven in CountMinSpec, which is what makes
  * it executor-partial-aggregation- and cross-shard-safe).
  *
  * Hashing is the repo's cross-engine discipline (md5-prefix mod W,
  * salted per depth row), so the sketch — and therefore the gate — is
  * deterministic and replayed exactly by the DuckDB oracle: build is
  * ONE map-side-combined shuffle of depth rows per token instance into
  * depth·width cells; estimates are a broadcast-sized lookup.
  */
object CountMin {

  val Depth = 4
  val Width = 256

  private def bucket(tok: org.apache.spark.sql.Column,
      d: Int): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit(s"cm$d|"), tok)), 1, 15), 16, 10)
      .cast("long") % Width

  private def tokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(explode(
        regexp_extract_all(lower($"text"), lit("[a-z0-9]+"), lit(0))).as("tok"))
  }

  /** The sketch itself: (d, b, cnt) cells — depth·width rows. */
  private[graft] def sketchOf(toks: DataFrame): DataFrame = {
    import toks.sparkSession.implicits._
    toks.select(posexplode(array((0 until Depth).map(d =>
        bucket($"tok", d)): _*)).as(Seq("d", "b")))
      .groupBy($"d", $"b").agg(count(lit(1)).as("cnt"))
  }

  /** Point-query audit: the top-n true tokens vs their CMS estimates.
    * `cms_est >= true_cnt` always (one-sided error — asserted in the
    * output so a broken hash shows as a false row, not a silent skew);
    * the gap is the collision mass the width bounds in expectation. */
  def estimateQuery(spark: SparkSession, sfDir: String,
      topN: Int = 20): DataFrame = {
    import spark.implicits._
    val toks = tokens(spark, sfDir)
    val sketch = sketchOf(toks)
    val top = toks.groupBy($"tok").agg(count(lit(1)).as("true_cnt"))
      .orderBy($"true_cnt".desc, $"tok").limit(topN)
    // estimate = min over depth rows of the addressed cell
    val est = top
      .select($"tok", $"true_cnt", posexplode(array((0 until Depth).map(d =>
        bucket($"tok", d)): _*)).as(Seq("d", "b")))
      .join(broadcast(sketch), Seq("d", "b"))
      .groupBy($"tok", $"true_cnt").agg(min($"cnt").as("cms_est"))
      .select($"tok", $"true_cnt", $"cms_est",
        ($"cms_est" >= $"true_cnt").as("one_sided"))
      .orderBy($"tok")
    est
  }

  def estimateQuerySql(topN: Int = 20): String = {
    def b(tokExpr: String, d: Int) =
      s"CAST(('0x' || substr(md5('cm$d|' || $tokExpr), 1, 15)) AS BIGINT) % $Width"
    val cellUnion = (0 until Depth).map(d =>
      s"SELECT $d AS d, ${b("tok", d)} AS b FROM t").mkString(" UNION ALL ")
    val probeUnion = (0 until Depth).map(d =>
      s"SELECT tok, true_cnt, $d AS d, ${b("tok", d)} AS b FROM top")
      .mkString(" UNION ALL ")
    s"""WITH t AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       |  FROM documents),
       |cells AS ($cellUnion),
       |sketch AS MATERIALIZED (SELECT d, b, count(*) AS cnt FROM cells GROUP BY d, b),
       |top AS MATERIALIZED (
       |  SELECT tok, count(*) AS true_cnt FROM t GROUP BY tok
       |  ORDER BY true_cnt DESC, tok LIMIT $topN),
       |probes AS ($probeUnion)
       |SELECT p.tok, CAST(p.true_cnt AS BIGINT) AS true_cnt,
       |       CAST(min(s.cnt) AS BIGINT) AS cms_est,
       |       min(s.cnt) >= p.true_cnt AS one_sided
       |FROM probes p JOIN sketch s ON s.d = p.d AND s.b = p.b
       |GROUP BY p.tok, p.true_cnt ORDER BY p.tok""".stripMargin
  }

  // ---- Misra–Gries canonical offset form (bounded-memory top-k) ----------

  /** Summary capacity: at most [[MgK]] survivors per source. */
  val MgK = 32

  /** Misra–Gries / Frequent summary in its CANONICAL OFFSET FORM
    * (Misra & Gries 1982; the offset characterization and merge bounds
    * are Berinde et al. PODS 2009 / Agarwal et al., "Mergeable
    * Summaries", PODS 2012): per source, λ = the (k+1)-th largest
    * token count (0 when the vocabulary fits in k) and the summary
    * keeps exactly the tokens with count > λ at estimate count − λ.
    * This is the ORDER-INDEPENDENT fixed point every streaming MG run
    * is within — and therefore the hash-gateable form: a pure function
    * of the exact counts, no stream order anywhere.
    *
    * Guarantees, each carried as an output column so the gate pins the
    * algebra and not just the rows: est ≤ true ≤ est + λ (one-sided
    * undercount — `gap` = λ by construction) and λ ≤ n/(k+1)
    * (`within_bound`; the k+1 counts ≥ λ already sum past n
    * otherwise). Summaries MERGE by adding estimates and adding λs —
    * the union bound est∪ ≤ true ≤ est∪ + Σλ holds at any merge shape
    * (spec-proven over doc shards; the frequency twin of the HLL
    * register-MAX / DDSketch bin-add soaks), which is what a 100 TB
    * deployment ships: k-row partials per shard, k-row merged result,
    * corpus never re-scanned.
    *
    * Scale: ONE map-side-combined (source, tok) count shuffle (the
    * Zipf-hot tokens collapse in the partials, the heavy-hitters
    * argument); then TWO physical regimes for the λ rank, spec-pinned
    * equal (CountMinSpec regime parity, the ChainClusterSpec pattern):
    *  - window (≤ [[MgHeapVocabLimit]] vocab rows): per-source λ-rank
    *    window over the aggregated vocab table — per-task state is one
    *    source's vocabulary;
    *  - heap (above the limit — the 100 TB Zipf-vocabulary case this
    *    op exists for): a bounded-buffer top-(k+1) AGGREGATE
    *    ([[TopCntAgg]]) whose partials are k+1 entries per
    *    source regardless of vocabulary; correctness is the selection
    *    monoid — top-(k+1) of a union of distinct (source, tok) rows
    *    equals top-(k+1) of per-partial top-(k+1)s, and every survivor
    *    (cnt > λ) sits in the buffer's first k positions by
    *    construction. */
  /** Vocab-row threshold for the regime switch (the
    * [[graft.operators.Graph]] local-limit pattern). The auto switch
    * prices one extra pass over the counts aggregate (`count()` — the
    * gated callers localCheckpoint the counts frame first so the pass
    * reads the materialized vocab table, not the corpus twice);
    * at-scale callers that know their regime call [[mgSummaryHeap]]
    * directly. The parity spec and the soak force the heap regime via
    * the `heapLimit` PARAMETER (r10 ADVICE: mutating a shared var is
    * not thread-safe and would silently re-regime concurrent
    * queries). */
  private[graft] val MgHeapVocabLimit: Long = 2L * 1000 * 1000

  /** Canonical offset summary of an exact (source, tok, cnt) table:
    * (source, tok, est, lambda, n_tokens, within_bound). Shared by the
    * gate and the spec's shard-merge proof. */
  private[graft] def mgSummaryOf(counts: DataFrame, k: Int,
      heapLimit: Long = MgHeapVocabLimit): DataFrame =
    if (counts.count() > heapLimit) mgSummaryHeap(counts, k)
    else mgSummaryWindow(counts, k)

  private[graft] def mgSummaryWindow(counts: DataFrame, k: Int): DataFrame = {
    import counts.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val n = counts.groupBy($"source").agg(sum($"cnt").as("n_tokens"))
    // λ = the (k+1)-th largest count — a tie-stable order statistic
    // (the value at rank k+1 is the same whatever order ties take; the
    // tok tiebreak just keeps the PLAN deterministic too)
    val byCnt = Window.partitionBy($"source")
      .orderBy($"cnt".desc, $"tok")
    val lam = counts
      .withColumn("rn", row_number().over(byCnt))
      .filter($"rn" === k + 1)
      .select($"source", $"cnt".as("lambda"))
    counts
      .join(broadcast(lam), Seq("source"), "left")
      .na.fill(0L, Seq("lambda"))
      .filter($"cnt" > $"lambda")
      .join(broadcast(n), "source")
      .select($"source", $"tok", ($"cnt" - $"lambda").as("est"),
        $"lambda", $"n_tokens",
        ($"lambda" * (k + 1) <= $"n_tokens").as("within_bound"))
  }

  /** Bounded top-`cap` buffer of (cnt, tok) ordered cnt desc, tok asc
    * over the already-distinct (source, tok) vocab rows. Partial state
    * is ≤ cap entries however large the vocabulary. */
  private class TopCntAgg(cap: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, String, Long), Seq[(Long, String)], Seq[(Long, String)]] {
    private def order(a: (Long, String), b: (Long, String)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    def zero: Seq[(Long, String)] = Seq.empty
    // buffer kept sorted; a row below a full buffer's minimum is O(1)
    // rejected (the common case under a Zipf tail), otherwise one
    // ordered insert — never a full re-sort per input row (r10 ADVICE)
    def reduce(buf: Seq[(Long, String)], row: (String, String, Long)): Seq[(Long, String)] = {
      val e = (row._3, row._2)
      if (buf.lengthCompare(cap) >= 0 && order(buf.last, e)) buf
      else {
        val i = buf.indexWhere(b => order(e, b))
        val ins = if (i < 0) buf :+ e else (buf.take(i) :+ e) ++ buf.drop(i)
        if (ins.lengthCompare(cap) > 0) ins.take(cap) else ins
      }
    }
    def merge(a: Seq[(Long, String)], b: Seq[(Long, String)]): Seq[(Long, String)] =
      (a ++ b).sortWith(order).take(cap)
    def finish(buf: Seq[(Long, String)]): Seq[(Long, String)] = buf
    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Long, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, String)]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, String)]] =
      bufferEncoder
  }

  private class SumCntAgg
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, String, Long), Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, row: (String, String, Long)): Long = b + row._3
    def merge(a: Long, b: Long): Long = a + b
    def finish(b: Long): Long = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  /** Heavy-vocabulary regime: ONE typed aggregate per source carrying a
    * (k+1)-entry buffer + the exact token total — no window, no
    * per-task vocabulary. λ = the buffer's (k+1)-th entry's count when
    * the buffer is full (exactly the window form's rank-(k+1) order
    * statistic; the (cnt desc, tok) order makes the position value
    * tie-stable), 0 when the whole vocabulary fit. Survivors
    * (cnt > λ) are by definition inside the buffer's first k slots. */
  private[graft] def mgSummaryHeap(counts: DataFrame, k: Int): DataFrame = {
    import counts.sparkSession.implicits._
    val ds = counts.select($"source", $"tok", $"cnt")
      .as[(String, String, Long)]
    val top = new TopCntAgg(k + 1)
    val tot = new SumCntAgg
    ds.groupByKey(_._1)
      .agg(top.toColumn.name("top"), tot.toColumn.name("n_tokens"))
      .toDF("source", "top", "n_tokens")
      .withColumn("lambda",
        when(size($"top") === k + 1,
          element_at($"top", k + 1).getField("_1")).otherwise(0L))
      .select($"source", explode($"top").as("entry"),
        $"lambda", $"n_tokens")
      .filter($"entry".getField("_1") > $"lambda")
      .select($"source", $"entry".getField("_2").as("tok"),
        ($"entry".getField("_1") - $"lambda").as("est"),
        $"lambda", $"n_tokens",
        ($"lambda" * (k + 1) <= $"n_tokens").as("within_bound"))
  }

  /** Per-source merge metadata — ALWAYS one row per source, survivors
    * or none (r9 ADVICE: a flat shard whose counts are all ≤ λ has an
    * EMPTY summary, and a merger reading λ off survivor rows loses
    * that shard's λ — understating Σλ in the union bound
    * est ≤ true ≤ est + Σλ). Shipped beside the summary so mergers
    * always accumulate the full λ sum; spec-exercised in
    * CountMinSpec's shard-merge proof. */
  private[graft] def mgMetaOf(counts: DataFrame, k: Int): DataFrame = {
    import counts.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val byCnt = Window.partitionBy($"source")
      .orderBy($"cnt".desc, $"tok")
    val lam = counts
      .withColumn("rn", row_number().over(byCnt))
      .filter($"rn" === k + 1)
      .select($"source", $"cnt".as("lambda"))
    counts.groupBy($"source").agg(sum($"cnt").as("n_tokens"))
      .join(broadcast(lam), Seq("source"), "left")
      .na.fill(0L, Seq("lambda"))
      .select($"source", $"lambda", $"n_tokens")
  }

  private[graft] def mgCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"source", explode(
        regexp_extract_all(lower($"text"), lit("[a-z0-9]+"), lit(0))).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("cnt"))
  }

  def mgTopk(spark: SparkSession, sfDir: String, k: Int = MgK,
      heapLimit: Long = MgHeapVocabLimit): DataFrame = {
    import spark.implicits._
    // vocab-sized pin: the regime switch's count() and the summary both
    // read the materialized counts — the corpus is tokenized ONCE
    // (r10 ADVICE; mgMerge already checkpoints its sharded counts).
    // checkpointAudited: the truncation would hide any upstream global
    // window from the per-query audit (r11 ADVICE)
    val cnts = graft.plans.WindowAudit.checkpointAudited(
      "mgTopk.counts", mgCounts(spark, sfDir))
    mgSummaryOf(cnts, k, heapLimit)
      .orderBy($"source", $"tok")
  }

  /** Gated MERGE path — the frequency twin of q_hll_union: the corpus
    * splits into [[MgShards]] deterministic doc shards, each collapses
    * to its k-row canonical summary plus its per-source META row
    * ([[mgMetaOf]] — a shard with zero survivors still contributes its
    * λ), and the shards merge WITHOUT re-touching the corpus:
    *
    *   est_merged = Σ est over shards carrying the token
    *   lam_sum    = Σ λ over ALL shards that saw the source
    *
    * giving the mergeable-summaries union bound
    * est_merged ≤ true ≤ est_merged + lam_sum (Agarwal et al.
    * PODS 2012). The exact corpus count rides along as an AUDIT column
    * with the bound evaluated in-row (`bound_ok` — hash-pinned TRUE for
    * every merged token, so a broken merge shows as a false cell, not
    * a silent skew). The audit join is the one corpus-count-sized leg —
    * the DdSketch/theta audit precedent; at deployment scale the
    * merge runs on k-row partials alone.
    *
    * Scale shape: ONE (shard, source, tok) map-side-combined count
    * shuffle; summaries/metas are ≤ (k+1)·shards rows per source;
    * the merge aggregate and λ-sum are summary-sized. */
  val MgShards = 4

  /** Separator for the shard-inside-source tag trick: NUL can never
    * occur in a source name (r10 ADVICE — a space separator would
    * silently mangle a source containing spaces: substring_index
    * drops the middle tokens). */
  private val TagSep = "\u0000"

  def mgMerge(spark: SparkSession, sfDir: String, k: Int = MgK,
      heapLimit: Long = MgHeapVocabLimit): DataFrame = {
    import spark.implicits._
    val cnts = Tables.documents(spark, sfDir)
      .select(pmod($"doc_id", lit(MgShards)).cast("int").as("shard"),
        $"source", explode(
          regexp_extract_all(lower($"text"), lit("[a-z0-9]+"), lit(0))).as("tok"))
      .groupBy($"shard", $"source", $"tok").agg(count(lit(1)).as("cnt"))
      // per-(shard, source) summaries via the shared canonical machinery
      // (the HLL-merge-soak tag trick: shard rides inside the source key)
      .withColumn("source", concat_ws(TagSep, $"shard", $"source"))
      .select($"source", $"tok", $"cnt")
      .transform(graft.plans.WindowAudit.checkpointAudited("mgMerge.counts", _))
    val summ = mgSummaryOf(cnts, k, heapLimit)
      .withColumn("shard", substring_index($"source", TagSep, 1).cast("int"))
      .withColumn("source", substring_index($"source", TagSep, -1))
    val meta = mgMetaOf(cnts, k)
      .withColumn("source", substring_index($"source", TagSep, -1))
    val merged = summ.groupBy($"source", $"tok")
      .agg(sum($"est").as("est_merged"),
        count(lit(1)).as("n_shards_present"))
    val lam = meta.groupBy($"source")
      .agg(sum($"lambda").as("lam_sum"), sum($"n_tokens").as("n_tokens"))
    // audit leg: exact corpus counts for the merged support (the one
    // corpus-count-sized join — documented above)
    val exact = mgCounts(spark, sfDir)
      .withColumnRenamed("cnt", "true_cnt")
    merged
      .join(broadcast(lam), "source")
      .join(exact, Seq("source", "tok"))
      .select($"source", $"tok", $"est_merged", $"n_shards_present",
        $"lam_sum", $"n_tokens", $"true_cnt",
        ($"est_merged" <= $"true_cnt" &&
          $"true_cnt" <= $"est_merged" + $"lam_sum").as("bound_ok"))
      .orderBy($"source", $"tok")
  }

  def mgMergeSql(k: Int = MgK): String =
    s"""WITH c AS MATERIALIZED (
       |  SELECT CAST(doc_id % $MgShards AS INTEGER) AS shard,
       |         source, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT doc_id, source,
       |           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       |    FROM documents)
       |  GROUP BY 1, 2, 3),
       |n AS (SELECT shard, source, CAST(SUM(cnt) AS BIGINT) AS n_tokens
       |      FROM c GROUP BY 1, 2),
       |r AS (SELECT shard, source, cnt,
       |             row_number() OVER (PARTITION BY shard, source
       |                                ORDER BY cnt DESC, tok) AS rn
       |      FROM c),
       |lam AS (SELECT shard, source, cnt AS lambda FROM r WHERE rn = ${k + 1}),
       |meta AS (
       |  SELECT n.shard, n.source, COALESCE(l.lambda, 0) AS lambda, n.n_tokens
       |  FROM n LEFT JOIN lam l ON l.shard = n.shard AND l.source = n.source),
       |summ AS (
       |  SELECT c.shard, c.source, c.tok,
       |         c.cnt - m.lambda AS est
       |  FROM c JOIN meta m ON m.shard = c.shard AND m.source = c.source
       |  WHERE c.cnt > m.lambda),
       |merged AS (
       |  SELECT source, tok, CAST(SUM(est) AS BIGINT) AS est_merged,
       |         CAST(COUNT(*) AS BIGINT) AS n_shards_present
       |  FROM summ GROUP BY 1, 2),
       |ls AS (
       |  SELECT source, CAST(SUM(lambda) AS BIGINT) AS lam_sum,
       |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |  FROM meta GROUP BY 1),
       |x AS (
       |  SELECT source, tok, CAST(SUM(cnt) AS BIGINT) AS true_cnt
       |  FROM c GROUP BY 1, 2)
       |SELECT m.source, m.tok, m.est_merged, m.n_shards_present,
       |       l.lam_sum, l.n_tokens, x.true_cnt,
       |       m.est_merged <= x.true_cnt
       |         AND x.true_cnt <= m.est_merged + l.lam_sum AS bound_ok
       |FROM merged m
       |JOIN ls l USING (source)
       |JOIN x ON x.source = m.source AND x.tok = m.tok
       |ORDER BY m.source, m.tok""".stripMargin

  def mgTopkSql(k: Int = MgK): String =
    s"""WITH c AS MATERIALIZED (
       |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT source,
       |           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       |    FROM documents)
       |  GROUP BY 1, 2),
       |n AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens
       |      FROM c GROUP BY 1),
       |r AS (SELECT source, cnt,
       |             row_number() OVER (PARTITION BY source
       |                                ORDER BY cnt DESC, tok) AS rn
       |      FROM c),
       |lam AS (SELECT source, cnt AS lambda FROM r WHERE rn = ${k + 1})
       |SELECT c.source, c.tok,
       |       c.cnt - COALESCE(l.lambda, 0) AS est,
       |       COALESCE(l.lambda, 0) AS lambda,
       |       n.n_tokens,
       |       COALESCE(l.lambda, 0) * ${k + 1} <= n.n_tokens AS within_bound
       |FROM c
       |LEFT JOIN lam l USING (source)
       |JOIN n USING (source)
       |WHERE c.cnt > COALESCE(l.lambda, 0)
       |ORDER BY c.source, c.tok""".stripMargin
}
