package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** DoReMi-style learned domain reweighting (Xie et al., "DoReMi:
  * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
  * NeurIPS 2023; the update rule is Group DRO's multiplicative-weights
  * step, Sagawa et al. ICLR 2020 / Freund–Schapire hedge). The mixing
  * family's third member: [[Sampling.temperatureMix]] is a STATIC
  * count-based reweighting, [[Dsir]] resamples toward a target corpus —
  * this one LEARNS the weights from a per-domain proxy loss, upweighting
  * the domains the proxy model finds hardest.
  *
  * Shape, re-expressed for a deterministic engine gate:
  *  - proxy loss = the corpus-trained bigram LM's per-domain mean NLL
  *    per bigram ([[Perplexity]]'s model, aggregated per source) —
  *    integer e9 nats via floor division of the exact e9 sums.
  *  - reference loss = the MIXTURE-weighted mean loss under the CURRENT
  *    weights (DoReMi's reference-model excess, with the mixture itself
  *    as the moving reference): ref_t = ⌊Σ w·loss / Σ w⌋. The excess
  *    max(0, loss − ref_t) shrinks as weight concentrates on hard
  *    domains — the Group-DRO minimax dynamics, not a one-shot rank.
  *  - T fixed multiplicative rounds: w ← w·(1e9 + ⌊excess/4⌋) then
  *    renormalize to Σ≈1e9 (the linear-multiplier hedge variant — NO
  *    exp(), so every step is exact integer arithmetic and the DuckDB
  *    oracle replays the whole trajectory bit-for-bit; the
  *    normalization product routes through 128-bit math, HUGEINT in
  *    DuckDB / BigInt here).
  *
  * The weight iteration runs on the driver over ONE ROW PER DOMAIN
  * (sources-sized, like [[QualityModel]]'s weights — the driver-loop
  * audit's model-sized regime); the corpus-sized work is exactly one
  * [[Perplexity.score]] pass. Output pins the full weight trajectory
  * (w0..wT per domain), so the gate hashes the dynamics, not just the
  * final mixture. */
object DomainReweight {

  /** Multiplicative rounds. Fixed and unrolled in the oracle SQL. */
  val Rounds = 4

  /** Per-round step: multiplier = 1e9 + excess_e9 / EtaDen. */
  val EtaDen = 4L

  private val E9 = 1000000000L

  /** One driver-side trajectory step over (loss_e9, w_e9) pairs. */
  private[graft] def step(lossW: Seq[(Long, Long)]): Seq[Long] = {
    val sumW = lossW.map(_._2).sum
    val ref = lossW.map { case (l, w) => BigInt(l) * w }.sum / sumW
    val raw = lossW.map { case (l, w) =>
      val excess = math.max(0L, l - ref.toLong)
      BigInt(w) * (E9 + excess / EtaDen)
    }
    val s = raw.sum
    raw.map(r => (r * E9 / s).toLong)
  }

  /** Gated query: one row per source — n_docs, n_bigrams, the proxy
    * loss, and the e9 weight after each of the [[Rounds]] updates. */
  def domainReweight(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Perplexity.score restores zero-bigram docs as n_bigrams = 0 rows;
    // the oracle's per_doc CTE (inner-joined) never contains them, so
    // they must not inflate n_docs here — exclude them before grouping
    // (they carry no loss mass either way).
    val perDoc = Perplexity.score(spark, sfDir)
      .filter($"n_bigrams" > 0)
      .select($"doc_id", $"n_bigrams", $"nll_e9")
    val bySource = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source")
      .join(perDoc, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_bigrams").as("n_bigrams"),
        sum($"nll_e9").as("nll_sum_e9"))
      .filter($"n_bigrams" > 0)
      // `div`, not `/`: Spark's long `/` routes through DOUBLE, which
      // silently loses integer precision past 2^53 — the e9 sums get
      // there at modest corpus sizes. Integer floor-div matches the
      // oracle's `//` exactly.
      .select($"source", $"n_docs", $"n_bigrams",
        expr("nll_sum_e9 div n_bigrams").cast("long").as("loss_e9"))
    // domains-sized collect (one row per source) — the same regime as
    // the GD loop's weight vector; everything corpus-sized stayed in
    // the Perplexity pass above
    val rows = bySource.orderBy($"source")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val d = rows.length.toLong
    require(d > 0, "domainReweight: no source with bigram mass")
    val w0 = E9 / d
    val traj = Iterator.iterate(rows.map(_ => w0).toSeq)(ws =>
      step(rows.map(_._4).zip(ws).toIndexedSeq))
      .take(Rounds + 1).toIndexedSeq
    val out = rows.zipWithIndex.map { case ((src, nd, nb, loss), i) =>
      (src, nd, nb, loss, traj(0)(i), traj(1)(i), traj(2)(i), traj(3)(i),
        traj(4)(i))
    }
    spark.createDataFrame(out.toIndexedSeq)
      .toDF("source", "n_docs", "n_bigrams", "loss_e9",
        "w0_e9", "w1_e9", "w2_e9", "w3_e9", "w4_e9")
      .orderBy($"source")
  }

  /** The whole trajectory replayed in SQL: per-source loss from the
    * bigram-LM CTEs, then [[Rounds]] unrolled weight rounds in exact
    * integer arithmetic (HUGEINT for the normalization product). `src`
    * is MATERIALIZED: every unrolled round reaches it, and DuckDB would
    * otherwise re-inline the whole bigram chain at each reference (it
    * ran out of memory at 12.5 GiB on a 65 KB table, 15 GB 4-core box). */
  val domainReweightSql: String = {
    def round(prev: String, cur: String): String =
      s"""ref_$cur AS (
         |  SELECT (SUM(CAST(w AS HUGEINT) * loss_e9) // SUM(CAST(w AS HUGEINT))) AS r
         |  FROM $prev),
         |raw_$cur AS (
         |  SELECT source, loss_e9,
         |         CAST(w AS HUGEINT)
         |           * (1000000000 + (GREATEST(loss_e9 - CAST(r AS BIGINT), 0) // $EtaDen)) AS wr
         |  FROM $prev, ref_$cur),
         |$cur AS (
         |  SELECT source, loss_e9,
         |         CAST((wr * 1000000000) // (SELECT SUM(wr) FROM raw_$cur) AS BIGINT) AS w
         |  FROM raw_$cur)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
       |  FROM documents),
       |vocab AS (
       |  SELECT COUNT(DISTINCT tok) AS v
       |  FROM (SELECT UNNEST(tk) AS tok FROM d)),
       |bg AS (
       |  SELECT doc_id,
       |         UNNEST(list_transform(generate_series(1, len(tk) - 1),
       |                               i -> tk[i] || ' ' || tk[i + 1])) AS bg
       |  FROM d WHERE len(tk) >= 2),
       |cbg AS (SELECT bg, COUNT(*) AS c_bg FROM bg GROUP BY 1),
       |cpre AS (
       |  SELECT split_part(bg, ' ', 1) AS w, COUNT(*) AS c_pre
       |  FROM bg GROUP BY 1),
       |terms AS (
       |  SELECT doc_id,
       |         CAST(FLOOR(ln(CAST(c_bg + 1 AS DOUBLE)
       |                       / CAST(c_pre + v AS DOUBLE))
       |                    * 1000000000.0) AS BIGINT) AS term_e9
       |  FROM bg
       |  JOIN cbg USING (bg)
       |  JOIN cpre ON cpre.w = split_part(bg.bg, ' ', 1), vocab),
       |per_doc AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |         CAST(-SUM(term_e9) AS BIGINT) AS nll_e9
       |  FROM terms GROUP BY 1),
       |src AS MATERIALIZED (
       |  SELECT doc.source, COUNT(*) AS n_docs,
       |         CAST(SUM(p.n_bigrams) AS BIGINT) AS n_bigrams,
       |         CAST(SUM(p.nll_e9) AS BIGINT) AS nll_sum_e9
       |  FROM documents doc JOIN per_doc p USING (doc_id)
       |  GROUP BY 1
       |  HAVING SUM(p.n_bigrams) > 0),
       |nd AS (SELECT COUNT(*) AS n FROM src),
       |w0 AS (
       |  SELECT source, (nll_sum_e9 // n_bigrams) AS loss_e9,
       |         (1000000000 // n) AS w
       |  FROM src, nd),
       |${round("w0", "w1")},
       |${round("w1", "w2")},
       |${round("w2", "w3")},
       |${round("w3", "w4")}
       |SELECT src.source, src.n_docs, src.n_bigrams,
       |       (src.nll_sum_e9 // src.n_bigrams) AS loss_e9,
       |       w0.w AS w0_e9, w1.w AS w1_e9, w2.w AS w2_e9,
       |       w3.w AS w3_e9, w4.w AS w4_e9
       |FROM src
       |JOIN w0 USING (source) JOIN w1 USING (source) JOIN w2 USING (source)
       |JOIN w3 USING (source) JOIN w4 USING (source)
       |ORDER BY source""".stripMargin
  }
}
