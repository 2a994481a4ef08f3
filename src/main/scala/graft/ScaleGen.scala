package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** sf1 test-data generator for the catalog-wide scaling audit (round-11
  * verdict task 1): replicates the driver's sf0.1 tables 10× with
  * KEY-SHIFTED copies — the TPC-H scaling shape (fact and dimension
  * tables grow together, nation/region stay fixed, per-key join fan-outs
  * stay constant because every copy is self-contained).
  *
  *   sbt "runMain graft.ScaleGen [srcDir] [dstDir] [copies]"
  *
  * Content columns are PERTURBED per copy so data-dependent operators
  * keep their real structure instead of degenerating into 10 exact
  * clones of everything:
  *  - documents.text: per-copy alphabet rotation (a Caesar shift via
  *    translate) — lengths, token boundaries, per-word frequencies and
  *    within-copy duplicate structure are all preserved exactly, but
  *    copies share no vocabulary, so dedup/LSH/minhash see a corpus 10×
  *    the size with the ORIGINAL near-dup rate (naive replication would
  *    make every doc a 10-way near-dup and quadratically inflate every
  *    candidate-pair stage — a false super-linearity).
  *  - embeddings.embedding: per-copy circular rotation of the vector —
  *    norms and pairwise-distance distributions within a copy are
  *    preserved, cross-copy cosines decorrelate (no 10-way exact ties
  *    in ANN top-k).
  * Everything else replicates with shifted keys only. The output is a
  * TIMING corpus (the sf0.01 DuckDB gate remains the correctness
  * oracle); it lives under target/ and is never committed.
  */
object ScaleGen {
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse(s"${PathRoot.TestData}/sf0.1")
    val dst = if (args.length > 1) args(1) else s"${PathRoot.Target}/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.build()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // SINGLE-FILE layout, exactly like the driver's testdata: several
    // catalog queries (the streaming sinks) glob `<table>.parquet` as a
    // literal file name, so a directory-per-table layout silently gives
    // them an empty stream. Small row groups (8 MB) keep the one file
    // byte-range-splittable so scan parallelism survives at sf1.
    def write(t: String, df: DataFrame): Unit = {
      val tmp = s"$dst/_tmp_$t"
      df.repartition(1).write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .parquet(tmp)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(dst).getFileSystem(conf)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .find(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $t")).getPath
      val target = new org.apache.hadoop.fs.Path(s"$dst/$t.parquet")
      fs.delete(target, true)
      fs.rename(part, target)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"SCALEGEN $t rows=${spark.read.parquet(s"$dst/$t.parquet").count()}")
    }
    /** max(key)+1 — the per-copy shift keeping key spaces disjoint. */
    def off(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    // tiny fixed dimensions: copy untouched (TPC-H keeps them constant)
    write("region", read("region"))
    write("nation", read("nation"))

    val cps = broadcast(spark.range(copies).select(col("id").as("cp")))
    /** 10 key-shifted copies: every column in `shift` becomes
      * col + cp * itsOffset; all other columns replicate verbatim. */
    def replicate(t: String, shift: Map[String, Long]): Unit = {
      val d = read(t)
      val out = d.crossJoin(cps).select(d.columns.map { c =>
        shift.get(c) match {
          case Some(o) => (col(c) + col("cp") * lit(o)).as(c)
          case None => col(c)
        }
      }.toSeq: _*)
      write(t, out)
    }

    val offC = off(read("customer"), "c_custkey")
    val offS = off(read("supplier"), "s_suppkey")
    val offP = off(read("part"), "p_partkey")
    val offO = off(read("orders"), "o_orderkey")
    val offE = off(read("events"), "event_id")
    val offU = off(read("events"), "user_id")
    val offD = off(read("documents"), "doc_id")
    val offV = off(read("embeddings"), "vec_id")

    replicate("customer", Map("c_custkey" -> offC))
    replicate("supplier", Map("s_suppkey" -> offS))
    replicate("part", Map("p_partkey" -> offP))
    replicate("orders", Map("o_orderkey" -> offO, "o_custkey" -> offC))
    replicate("lineitem", Map("l_orderkey" -> offO, "l_partkey" -> offP,
      "l_suppkey" -> offS))
    replicate("events", Map("event_id" -> offE, "user_id" -> offU))

    // documents: per-copy Caesar rotation (copy 0 = original). translate
    // needs a literal mapping per copy, so this is a 10-branch union —
    // 10 scans of a sub-MB parquet, not a hot path.
    val docs = read("documents")
    val docCopies = (0 until copies).map { c =>
      val rotL = Lower.drop(c % 26) + Lower.take(c % 26)
      val rotU = rotL.toUpperCase
      docs.select(
        (col("doc_id") + lit(c.toLong * offD)).as("doc_id"),
        (if (c == 0) col("text")
         else translate(col("text"), Lower + Upper, rotL + rotU)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    write("documents", docCopies)

    // embeddings: per-copy circular rotation of the float vector
    val emb = read("embeddings")
    val embCopies = (0 until copies).map { c =>
      emb.select(
        (col("vec_id") + lit(c.toLong * offV)).as("vec_id"),
        (if (c == 0) col("embedding")
         else expr(s"concat(slice(embedding, ${c + 1}, size(embedding) - $c), " +
                   s"slice(embedding, 1, $c))")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    write("embeddings", embCopies)

    println(s"SCALEGEN_DONE dst=$dst copies=$copies")
    spark.stop()
  }
}
