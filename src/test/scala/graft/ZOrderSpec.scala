package graft

import graft.operators.ZOrder
import graft.plans.InterleaveBits
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout: the curve itself (vs a bit-by-bit reference) and the
  * property it exists for — a z-clustered layout keeps the NON-leading
  * dimension's per-file min/max envelopes narrow, so a box predicate on it
  * skips files that a linear single-column sort cannot. */
class ZOrderSpec extends AnyFunSuite with SparkFixture {

  test("morton matches a bit-by-bit reference on random and edge pairs") {
    def ref(x: Int, y: Int): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      z
    }
    val rnd = new scala.util.Random(7)
    val edges = Seq((0, 0), (65535, 65535), (0, 65535), (65535, 0), (1, 2))
    val pairs = edges ++ Seq.fill(300)((rnd.nextInt(65536), rnd.nextInt(65536)))
    for ((x, y) <- pairs)
      assert(InterleaveBits.morton(x, y) == ref(x, y), s"($x, $y)")
  }

  test("sql expression agrees with the scala implementation") {
    import spark.implicits._
    val rows = Seq((3, 5), (65535, 1), (1234, 4321)).toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zCol(col("x"), col("y")).as("z"))
      .collect()
    for (r <- rows)
      assert(r.getLong(2) == InterleaveBits.morton(r.getInt(0), r.getInt(1)))
  }

  test("z layout skips files on the non-leading column; linear sort cannot") {
    val df = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select((col("l_partkey") % 65536).cast("int").as("x"),
        (col("l_orderkey") % 65536).cast("int").as("y"))
    val zOut = s"${graft.queries.TmpRoot}/z_layout"
    val xOut = s"${graft.queries.TmpRoot}/x_layout"
    ZOrder.layoutBy(df, col("x"), col("y"), 16, zOut)
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xOut)

    // candidate files for a y-box, judged by per-file min/max — the same
    // stats parquet footers carry
    def filesTouched(dir: String, yLo: Int, yHi: Int): (Int, Int) = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val touched = files.count { f =>
        val mm = spark.read.parquet(f.getPath)
          .agg(min(col("y")).as("lo"), max(col("y")).as("hi")).head
        !(mm.getInt(1) < yLo || mm.getInt(0) > yHi)
      }
      (touched, files.length)
    }
    val (zTouch, zTotal) = filesTouched(zOut, 100, 200)
    val (xTouch, xTotal) = filesTouched(xOut, 100, 200)
    assert(zTotal >= 8 && xTotal >= 8, s"layouts too coarse: $zTotal/$xTotal")
    // x-sorted files each span ~the full y range — no skipping; z files
    // are square-ish z-ranges — most fall wholly outside the box
    assert(zTouch < xTouch, s"z touched $zTouch/$zTotal, x touched $xTouch/$xTotal")
    // and the rewrite is lossless
    assert(spark.read.parquet(zOut).count() == df.count())
  }
}
