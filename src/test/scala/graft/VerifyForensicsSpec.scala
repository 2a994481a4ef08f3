package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-4 q_kmeans episode: a driver-run hash mismatch with no
  * forensic trail. These tests pin the two trails added in round 5 —
  * Verify's canonical per-query row dump (what Spark produced in THAT
  * run) and dev/check.py's verify_diff file on any planted mismatch. */
class VerifyForensicsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("Verify.dumpCanonical writes the sorted canonical row dump") {
    val out = s"${graft.queries.TmpRoot}/forensics_out"
    // column names deliberately out of sorted order; rows unsorted
    Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("zz", "aa")
      .write.mode("overwrite").parquet(s"$out/q_demo")
    Verify.dumpCanonical(spark, out, "q_demo")
    // the dump lives in a SIBLING dir ("<outDir>-rows"), never inside
    // outDir: the driver parquet-globs every entry under outDir and a
    // text dir there records a spurious failing gate row (r5 artifact)
    assert(!new java.io.File(s"$out/rows").exists(),
      "forensic dump must not be inside the driver-enumerated outDir")
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out-rows/q_demo.txt")), "UTF-8")
    val lines = txt.linesIterator.toSeq
    assert(lines.head == "rows=3 cols=aa,zz", lines.head)
    // columns sorted by name (aa before zz), rows sorted by value
    assert(lines.tail == Seq("a|1", "b|2", "c|3"), lines.tail)
  }

  test("an intentional planted mismatch produces the verify_diff file") {
    import scala.sys.process._
    val diff = new java.io.File(
      s"${PathRoot.Target}/verify_diff/selftest_planted.txt")
    if (diff.exists()) diff.delete()
    val rc = Process(Seq("python3", "dev/check.py", "--selftest"),
      new java.io.File(PathRoot.Checkout)).!
    assert(rc == 0, s"check.py --selftest exit $rc")
    assert(diff.exists(), "diff file not produced")
    val txt = new String(java.nio.file.Files.readAllBytes(diff.toPath), "UTF-8")
    assert(txt.contains("99") && txt.contains("20"), txt)
  }
}
