package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-8 wave (SURVEY §2.26) — the remaining north-star tier from
  * VERDICT r7:
  *
  *  - `chp_train_mlp`: feed-forward-NN churn model parity — the
  *    reference's recalled deployed model class was a small dense neural
  *    classifier, not LR (SURVEY Appendix B); MLlib
  *    MultilayerPerceptronClassifier with a fixed explicit init vector,
  *    z-scored features, and the same md5 hash split as the LR keys.
  *  - `pipeline_span_dedup`: the span-CUT corpus rewrite — the step a
  *    training-data pipeline runs the substring miner FOR (Lee et al.,
  *    "Deduplicating Training Data Makes Language Models Better"):
  *    every duplicated span is excised from all but the lowest-doc_id
  *    copy and the cut corpus itself is emitted with per-doc accounting.
  */
object QRound8 extends QueryPack {

  /** Train + evaluate the MLP churn classifier (ChurnModel.trainEvalMlp):
    * one row with split sizes, train/test AUC, 0.5-threshold confusion
    * matrix, and weight summary (count / L2 / first / last). No oracle
    * (training is not SQL-expressible) — Round8Spec gates two-run
    * determinism (driving ChurnModel.trainEvalMlp directly so the gate
    * re-runs the real 35-iteration fit), AUC bounds, and confusion
    * conservation, mirroring `chp_train_auc`. Every call runs the fit. */
  private def chpTrainMlp(s: SparkSession, d: String): DataFrame =
    ChurnModel.trainEvalMlp(s, d)

  // ---- span-cut corpus rewrite ----

  /** Exact-substring dedup with span REMOVAL: `text_dedup_substring`
    * finds maximal shared token spans; this key applies them — each span
    * occurrence in the HIGHER doc_id (the span table's b side; the
    * canonical copy is the lowest doc_id, which by a_id < b_id is never
    * a b side for that span) is excised from the document, overlapping
    * cut intervals merged first, and the surviving corpus emitted with
    * exact token/char accounting. Docs under 16 tokens pass through
    * unchanged (no shingles → no spans). Within-doc self-repetition is
    * out of scope (the span table is cross-document by construction).
    *
    * Scale shape (100 TB): the span side reuses the memoized persisted
    * shingle table (uniform md5 equi-join — same as the miner); interval
    * merge is a window PARTITIONED by doc_id (never global); the cut
    * itself is a map-side higher-order-function pass (filter/exists over
    * the per-doc interval array — interval count per doc is span-sized,
    * tokens never leave their row), and the one extra shuffle is the
    * groupBy doc_id that assembles the interval arrays. No driver-side
    * anything; the output is corpus-sized, as a rewrite must be. */
  private def pipelineSpanDedup(s: SparkSession, d: String): DataFrame =
    spanCut(t(s, d, "documents"), QRound7.substringSpansPersisted(s, d))

  /** The cut itself, on an explicit (docs, spans) pair — exposed for the
    * Round8Spec planted-passage gate. */
  private[graft] def spanCut(docs: DataFrame, spans: DataFrame): DataFrame = {
    // b-side cut intervals [s, e) in token positions, merged per doc
    val iv = spans.select(col("b_id").as("doc_id"), col("b_start").as("ps"),
      (col("b_start") + col("span_tokens")).cast(IntegerType).as("pe"))
    val w = Window.partitionBy("doc_id").orderBy("ps", "pe")
    val merged = iv
      .withColumn("runmax", max(col("pe")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl", sum(
        when(col("ps") > coalesce(col("runmax"), lit(-1)), 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "isl")
      .agg(min("ps").as("ps"), max("pe").as("pe"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("ps"), col("pe"))).as("iv"))
    docs
      .join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        expr("coalesce(iv, cast(array() as array<struct<ps:int,pe:int>>))")
          .as("iv"))
      .withColumn("tk", split(col("text"), " "))
      .withColumn("kept", expr(
        "filter(transform(tk, (t, i) -> struct(t AS t, i AS i)), " +
          "x -> !exists(iv, v -> x.i >= v.ps AND x.i < v.pe))"))
      .select(col("doc_id"),
        size(col("tk")).cast(LongType).as("n_tokens"),
        (size(col("tk")) - size(col("kept"))).cast(LongType).as("n_cut_tokens"),
        length(col("text")).cast(LongType).as("chars_before"),
        expr("array_join(transform(kept, x -> x.t), ' ')").as("text_cut"))
      .withColumn("chars_after", length(col("text_cut")).cast(LongType))
      .select("doc_id", "n_tokens", "n_cut_tokens", "chars_before",
        "chars_after", "text_cut")
      .orderBy("doc_id")
  }

  private val oPipelineSpanDedup =
    s"""WITH ${QRound7.oSpanCtes},
       |spans AS (SELECT b_id AS doc_id, CAST(min(pb) AS INT) AS ps,
       |    CAST(min(pb) + max(pa) - min(pa) + ${QRound7.ssW} AS INT) AS pe
       |  FROM isl GROUP BY a_id, b_id, d, grp),
       |ordered AS (SELECT doc_id, ps, pe,
       |    max(pe) OVER (PARTITION BY doc_id ORDER BY ps, pe
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
       |  FROM spans),
       |isl2 AS (SELECT doc_id, ps, pe,
       |    sum(CASE WHEN ps > coalesce(runmax, -1) THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY ps, pe
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM ordered),
       |merged AS (SELECT doc_id, min(ps) AS ps, max(pe) AS pe
       |  FROM isl2 GROUP BY doc_id, isl),
       |tokpos AS (SELECT doc_id, tk, CAST(i AS INT) AS i, tk[i+1] AS tok
       |  FROM toks, LATERAL (SELECT unnest(generate_series(0, len(tk)-1)) AS i)),
       |kept AS (SELECT tp.doc_id, tp.i, tp.tok FROM tokpos tp
       |  WHERE NOT EXISTS (SELECT 1 FROM merged mg
       |    WHERE mg.doc_id = tp.doc_id AND tp.i >= mg.ps AND tp.i < mg.pe)),
       |cut AS (SELECT doc_id, count(*) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY i) AS text_cut
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
       |  CAST(len(t.tk) - coalesce(c.n_kept, 0) AS BIGINT) AS n_cut_tokens,
       |  CAST(length(d.text) AS BIGINT) AS chars_before,
       |  CAST(length(coalesce(c.text_cut, '')) AS BIGINT) AS chars_after,
       |  coalesce(c.text_cut, '') AS text_cut
       |FROM documents d JOIN toks t ON t.doc_id = d.doc_id
       |LEFT JOIN cut c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "chp_train_mlp"      -> chpTrainMlp _,
    "pipeline_span_dedup" -> pipelineSpanDedup _)

  val oracles: Map[String, String] = Map(
    "pipeline_span_dedup" -> oPipelineSpanDedup)
}
