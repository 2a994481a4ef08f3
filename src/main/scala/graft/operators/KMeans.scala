package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import graft.plans.IntVecSqDistExpression
import graft.operators.Ckpt._

/** Fixed-iteration Lloyd's k-means over integer-quantized embedding
  * vectors — the clustering primitive of training-data curation (corpus
  * bucketing, diversity sampling, PQ codebook training), expressed as an
  * unrolled DataFrame loop with EXACT integer assignment:
  *
  *  - vectors are pre-quantized ints scaled ×1000 (q1000 = 1000·q);
  *  - centroid components are stored as the SAME fixed-point scale:
  *    c1000_i = round-half-up(S_i/n) where S_i is the exact integer
  *    member sum — computed in PURE INTEGER arithmetic as
  *    (2·S + n − pmod(2·S + n, 2·n)) div (2·n), i.e. an exactly-divisible
  *    floor division, so there is no DOUBLE (and no engine-version
  *    sum-typing or FP half-boundary dependence) anywhere in the loop;
  *  - assignment minimizes Σ(q1000_i − c1000_i)², an exact BIGINT sum
  *    (≤ 64·(2·10⁷)² ≈ 2.6·10¹⁶ per distance — no overflow, no
  *    floating-point accumulation order anywhere), ties broken by
  *    smaller centroid id.
  *
  * Scale shape per iteration: one broadcast of the k×dims centroid table
  * to an assignment join (narrow pass over vectors, k distance rows per
  * vector), one (cid, dim) partial-agg'd update shuffle carrying
  * k·dims·partitions rows. No driver-side collect; no iteration reads
  * more than one pass over the data. Fixed iterations (not convergence)
  * for the same reason as [[PageRank]]: stable cost envelope, and the
  * DuckDB oracle can unroll the exact same rounds.
  *
  * Init = the k vectors with the smallest ids (deterministic and
  * replayable — kmeans++ would add a sampling pass the oracle cannot
  * reproduce bit-exactly).
  */
object KMeans {

  /** @param vecs (id: BIGINT, q: ARRAY<BIGINT>) integer-quantized vectors
    * @return (cid, c1000) after `iters` Lloyd iterations; cid is the
    *   0-based rank of the init vector (smallest ids), c1000 the
    *   fixed-point centroid array. */
  def centroids(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1 && iters <= 10,
      s"k=$k iters=$iters out of range")
    val q1000 = vecs.select(col("id"),
      expr("transform(q, x -> x * CAST(1000 AS BIGINT))").as("v"))
      .ckpt() // assignment + update reuse it every iteration
    // deterministic init: the k smallest ids, cid = their rank
    var cents = q1000.orderBy("id").limit(k)
      .select(col("id"), col("v").as("c1000"))
      .withColumn("cid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("id")).cast("long") - 1)
      .select("cid", "c1000")
      .ckpt()
    for (_ <- 1 to iters) {
      val assigned = assign(q1000, cents)
      // exact integer sums per (cid, dim) via posexplode; partial agg
      // collapses map-side so the shuffle carries k·dims·partitions rows
      val sums = assigned.join(q1000, "id")
        .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cid", "i")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        // pure-integer round-half-up of s/n: floor((2s+n)/(2n)) with the
        // numerator pre-adjusted by its positive mod so the division is
        // EXACT (truncate == floor on an exact quotient) — no DOUBLE, so
        // no FP half-boundary can ever differ between engines
        .withColumn("c",
          expr("(2*s + n - pmod(2*s + n, 2*n)) div (2*n)"))
      cents = sums.groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(i, c))), t -> t.c)")
          .as("c1000"))
        .ckpt()
    }
    cents
  }

  /** Nearest-centroid assignment: (id, cid, d2) with d2 the exact integer
    * squared distance; ties go to the smaller cid. */
  def assign(q1000: DataFrame, cents: DataFrame): DataFrame =
    q1000.crossJoin(broadcast(cents))
      .select(col("id"), col("cid"),
        GraftSqlShim.applyExpr(col("v"), col("c1000")) {
          case Seq(v, c) => IntVecSqDistExpression(v, c)
        }.as("d2"))
      .groupBy("id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("id"), col("m.cid").as("cid"), col("m.d2").as("d2"))
}
