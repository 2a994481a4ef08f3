package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-53 addition — exponentiated-gradient domain reweighting (the
  * DoReMi-style mixture step):
  *
  *  - q_mixture_reweight: per-source "loss" = OOV rate against the
  *    corpus's own top-256 vocabulary (the hard-domain signal); one
  *    multiplicative-weights step upweights high-excess-loss sources:
  *    factor_i = exp(η·(loss_i − min loss)) with η = 4, new mixture
  *    w_i = factor_i / Σ factor. This is the data-recipe update a
  *    multi-domain training pipeline iterates (uniform → reweighted →
  *    re-train), beside q_alpha_sampling's static temperature weights
  *    and q_mix_sources' fixed proportions.
  *
  * Determinism: counts and rates are exact → round 6; exp() is not
  * correctly-rounded in either engine, so (the q_tfidf ln() discipline)
  * its argument is a round-6 rational and its result is pre-rounded to 8
  * before the final round-6 normalization — both spelled identically in
  * both engines.
  */
object Wave53 extends Catalog {

  private val VocabTop = 256
  private val Eta = 4

  val queries: Map[String, Q] = strictMap(

    // MIXTURE REWEIGHT: one token pass (the word-count shuffle), a
    // broadcast 256-word vocab probe, a per-source aggregate (|sources|
    // rows), then constant-size weight arithmetic — the corpus is read
    // once no matter how many domains.
    "q_mixture_reweight" -> ((s, dir) => {
      val toks = corpusToks(s, dir)
        .join(table(s, dir, "documents").select("doc_id", "source"), "doc_id")
        .ckpt() // vocab pass + per-source pass
      val vocab = toks.groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word")).limit(VocabTop)
        .select("word").withColumn("inv", lit(1L))
      val per = toks.join(broadcast(vocab), Seq("word"), "left_outer")
        .groupBy("source")
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("loss",
          expr("round(CAST(n_oov AS DOUBLE) / n_toks, 6)"))
        .ckpt() // min-loss crossing + normalization reuse
      val mn = per.agg(min("loss").as("ml"))
      val f = per.crossJoin(broadcast(mn))
        .withColumn("factor", expr(s"round(exp($Eta * round(loss - ml, 6)), 8)"))
      val z = f.agg(dsum(col("factor"), 8).as("z"))
      f.crossJoin(broadcast(z))
        .selectExpr("source", "CAST(n_toks AS BIGINT) AS n_toks",
          "loss", "factor", "round(factor / z, 6) AS w_new")
        .orderBy("source")
    }),
  )

  val oracle: Map[String, String] = strictMap(

    "q_mixture_reweight" ->
      s"""WITH ${Reference.ToksSql},
         |st AS MATERIALIZED (
         |  SELECT toks.word, d.source FROM toks
         |  JOIN documents d USING (doc_id)
         |),
         |vocab AS (
         |  SELECT word FROM st GROUP BY word
         |  ORDER BY count(*) DESC, word LIMIT $VocabTop
         |),
         |per AS MATERIALIZED (
         |  SELECT source, count(*) AS n_toks,
         |    sum(CASE WHEN word IN (SELECT word FROM vocab)
         |      THEN 0 ELSE 1 END) AS n_oov
         |  FROM st GROUP BY source
         |),
         |l AS (
         |  SELECT source, n_toks,
         |    round(CAST(n_oov AS DOUBLE) / n_toks, 6) AS loss
         |  FROM per
         |),
         |mn AS (SELECT min(loss) AS ml FROM l),
         |f AS (
         |  SELECT source, n_toks, loss,
         |    round(exp($Eta * round(loss - ml, 6)), 8) AS factor
         |  FROM l CROSS JOIN mn
         |),
         |z AS (SELECT ${dsumSql("factor", 8)} AS z FROM f)
         |SELECT source, CAST(n_toks AS BIGINT) AS n_toks, loss, factor,
         |  round(factor / z, 6) AS w_new
         |FROM f CROSS JOIN z ORDER BY source""".stripMargin,
  )
}
