package graft.queries

import graft.operators.Tokenize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity operator catalog — one query per SURVEY.md §2 row.
  * Each query runs over the harness `documents` table (the corpus) and has a
  * DuckDB oracle twin built from the same regex constants.
  */
object Reference extends Catalog {
  import Tokenize.KeepRegex

  /** DuckDB CTE mirroring [[Tokenize.tokenize]] over `documents`. */
  val ToksSql: String =
    s"""toks AS (
       |  SELECT doc_id, w AS word FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(text, '$DelimSql')) AS w FROM documents
       |  ) WHERE regexp_matches(lower(w), '$KeepRegex')
       |)""".stripMargin

  private def docs(s: SparkSession, dir: String) = table(s, dir, "documents")
  private def toks(s: SparkSession, dir: String): DataFrame = corpusToks(s, dir)

  /** DuckDB twin of `EncodeWord.encode`: per character of lower(e), chars
    * in backtick..'z' append their zero-padded 2-digit code (backtick = 00
    * — the reference's off-by-one), all others are skipped. `strpos`
    * against an explicit alphabet avoids collation-dependent BETWEEN on
    * non-ASCII input (a multi-byte char just misses → skipped, matching
    * the JVM's per-char code test). */
  private def encodeSql(e: String): String =
    "array_to_string(list_transform(split(lower(" + e + "), ''), c -> " +
      "CASE WHEN strpos('`abcdefghijklmnopqrstuvwxyz', c) > 0 " +
      "THEN lpad(CAST(strpos('`abcdefghijklmnopqrstuvwxyz', c) - 1 AS VARCHAR), 2, '0') " +
      "ELSE '' END), '')"

  private val WordcountSql =
    s"""WITH $ToksSql
       |SELECT word, count(*) AS cnt FROM toks GROUP BY word
       |ORDER BY cnt DESC, word""".stripMargin

  val queries: Map[String, Q] = strictMap(
    // O1: text scan — projection reaches the parquet reader (column pruning).
    "q_scan_text" -> ((s, dir) =>
      docs(s, dir).select("doc_id", "lang", "source", "n_chars", "text")
        .orderBy("doc_id")),
    // O2: repartition — count/sum preservation under RoundRobinPartitioning.
    "q_repartition" -> ((s, dir) =>
      docs(s, dir).repartition(32)
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))),
    // O3: tokenize (explode/generator) + O4 keep-filter.
    "q_tokenize" -> ((s, dir) => toks(s, dir).orderBy("doc_id", "word")),
    // O4: filter — per-doc kept-token counts.
    "q_filter_nonempty" -> ((s, dir) =>
      toks(s, dir).groupBy("doc_id").agg(count(lit(1)).as("n_kept"))
        .orderBy("doc_id")),
    // O5: scalar projection — normalize to the encodable char subset.
    "q_encode" -> ((s, dir) =>
      toks(s, dir).select("word").distinct()
        .select(col("word"),
          regexp_replace(lower(col("word")), s"[^`-z]", "").as("norm"))
        .orderBy("word")),
    // O5 exact: the reference's positional 2-digit encoding itself
    // (`WorkerSender.java:129-148`), evaluated by the native Catalyst
    // expression (plans.EncodeWordExpression, codegen'd) — the oracle twin
    // recomputes the digit string in pure DuckDB string SQL.
    "q_encode_exact" -> ((s, dir) => {
      toks(s, dir).select("word").distinct()
        .select(col("word"),
          graft.plans.GraftExtensions.encode_word(col("word")).as("enc"))
        .orderBy("word")
    }),
    // O6+O7: the flagship word count (shuffle + hash aggregate).
    "q_wordcount" -> ((s, dir) =>
      corpusWordCount(s, dir).orderBy(desc("cnt"), asc("word"))),
    // The reference's LITERAL output shape: top-20 per reducer, reducer
    // identity = BigInteger(encode(word)) mod 4 (`WorkerSender.java:
    // 223-224,286-296`) — deterministic and partitioning-independent, so
    // it is oracle-checkable even though the selection is reducer-local.
    "q_topk_per_reducer" -> ((s, dir) =>
      Tokenize.topKPerReducer(docs(s, dir), "text")
        .select(col("reducer").cast("long").as("reducer"),
          col("word"), col("cnt"))
        .orderBy(asc("reducer"), desc("cnt"), asc("word"))),
    // O8: global sort (range-partitioned SortExec) on a non-corpus table.
    "q_sort_value_key" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 4).as("v"))
        .orderBy(desc("v"), asc("event_id"))),
    // O9: top-K → TakeOrderedAndProject (no full sort materialization).
    "q_topk" -> ((s, dir) =>
      corpusWordCount(s, dir).orderBy(desc("cnt"), asc("word")).limit(20)),
    // O14: distinct keyset.
    "q_distinct" -> ((s, dir) =>
      toks(s, dir).select("word").distinct().orderBy("word")),
    // O11: file sink round-trip (write parquet, read back).
    "q_sink_roundtrip" -> ((s, dir) => {
      val out = s"$TmpRoot/q_sink_roundtrip"
      corpusWordCount(s, dir).write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy(desc("cnt"), asc("word"))
    }),
    // CSV source/sink round-trip (schema-on-read with explicit schema).
    "q_sink_csv_roundtrip" -> ((s, dir) => {
      val out = s"$TmpRoot/q_sink_csv"
      corpusWordCount(s, dir).write.mode("overwrite")
        .option("header", "true").csv(out)
      s.read.schema("word STRING, cnt BIGINT").option("header", "true")
        .csv(out).orderBy(desc("cnt"), asc("word"))
    }),
    // JSON-lines source/sink round-trip.
    "q_sink_json_roundtrip" -> ((s, dir) => {
      val out = s"$TmpRoot/q_sink_json"
      corpusWordCount(s, dir).write.mode("overwrite").json(out)
      s.read.schema("word STRING, cnt BIGINT").json(out)
        .orderBy(desc("cnt"), asc("word"))
    }),
    // XML source/sink round-trip (Spark 4's built-in XML data source):
    // schema-on-read with an explicit schema so cnt comes back BIGINT.
    "q_sink_xml_roundtrip" -> ((s, dir) => {
      val out = s"$TmpRoot/q_sink_xml"
      corpusWordCount(s, dir).write.mode("overwrite")
        .option("rowTag", "row").format("xml").save(out)
      s.read.schema("word STRING, cnt BIGINT").option("rowTag", "row")
        .format("xml").load(out).orderBy(desc("cnt"), asc("word"))
    }),
    // ORC source/sink round-trip (the second columnar format Spark ships).
    "q_sink_orc_roundtrip" -> ((s, dir) => {
      val out = s"$TmpRoot/q_sink_orc"
      corpusWordCount(s, dir).write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy(desc("cnt"), asc("word"))
    }),
    // Text source/sink round-trip: the reference's native format
    // (line-oriented text, O1/O11) — serialize as word<TAB>cnt lines,
    // read back, parse. Words containing CR/LF are excluded (the tokenizer
    // splits LF but lets CR through, and a CR inside a line would be read
    // back as a line break — silent row corruption otherwise).
    "q_sink_text_roundtrip" -> ((s, dir) => {
      val out = s"$TmpRoot/q_sink_text"
      corpusWordCount(s, dir)
        .where(!col("word").rlike("[\\r\\n]"))
        .select(concat_ws("\t", col("word"), col("cnt")).as("value"))
        .write.mode("overwrite").text(out)
      s.read.text(out)
        .select(split(col("value"), "\t").as("kv"))
        .select(element_at(col("kv"), 1).as("word"),
          element_at(col("kv"), 2).cast("long").as("cnt"))
        .orderBy(desc("cnt"), asc("word"))
    }),
    // Custom DSv2 WRITE commit protocol, oracle-gated end-to-end (the
    // one custom tier that was spec-only until r11): the flagship word
    // count flows through ChecksumSink under TWO different partitionings;
    // each task's DataWriter surfaces (count, xor-of-row-hashes) as its
    // commit message and the driver aggregates only COMMITTED messages —
    // xor/count commute, so the aggregate must be identical across
    // partitionings. The returned frame carries wordcount stats the
    // oracle recomputes, the committed row count (must equal the
    // wordcount cardinality — nothing dropped or double-counted), and
    // the partitioning-invariance pin.
    "q_checksum_sink" -> ((s, dir) => {
      val wc = corpusWordCount(s, dir)
      // sink names carry a per-invocation nonce (round-11 ADVICE): the
      // ChecksumSink result registry is JVM-global, so two concurrent
      // builds of this query under fixed names would race on result()
      // and could read each other's committed counts — the nonce makes
      // the builder reentrant beyond the repo's documented
      // single-threaded-session assumption
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      def through(df: DataFrame, name: String): (Long, Long) = {
        df.write.format("graft.sources.ChecksumSink")
          .option("name", name).mode("overwrite").save()
        val r = graft.sources.ChecksumSink.result(name).get
        graft.sources.ChecksumSink.clear(name) // nonce names: don't leak
        r
      }
      val (ca, xa) = through(wc, s"q_cs_a_$nonce")
      val (cb, xb) = through(wc.repartition(7), s"q_cs_b_$nonce")
      wc.agg(count(lit(1)).as("n_words"), sum(col("cnt")).as("n_tokens"))
        .withColumn("rows_committed", lit(ca))
        .withColumn("checksum_stable", lit(ca == cb && xa == xb))
    }),
    // SQL front door: the flagship expressed through spark.sql over a temp
    // view — the catalog is equally reachable via SQL text, tokenizer
    // kernel (`kept_tokens`) included.
    "q_sql_frontend" -> ((s, dir) => {
      docs(s, dir).createOrReplaceTempView("documents_v")
      s.sql(
        """SELECT word, count(*) AS cnt FROM (
          |  SELECT explode(kept_tokens(text)) AS word FROM documents_v
          |) GROUP BY word ORDER BY cnt DESC, word""".stripMargin)
    }),
    // Corrupt-record tolerance: a CSV with planted malformed lines read
    // under PERMISSIVE mode — bad rows land in _corrupt_record instead of
    // failing the job (the 100 TB ingest reality: a few broken records
    // must not kill a million-file read). Counts and the good-row
    // checksum are oracle-checked from the same construction rule.
    "q_csv_corrupt" -> ((s, dir) => {
      val out = s"$TmpRoot/csv_corrupt"
      val good = table(s, dir, "orders")
        .select(concat_ws(",", col("o_orderkey"), col("o_custkey")).as("value"))
      val bad = table(s, dir, "orders").where(col("o_orderkey") % 10 === 0)
        .select(concat(lit("corrupt#"), col("o_orderkey")).as("value"))
      good.unionByName(bad).write.mode("overwrite").text(out)
      s.read.schema("k BIGINT, c BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE").csv(out)
        .agg(count(lit(1)).as("n"),
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_bad"),
          sum(coalesce(col("k"), lit(0L))).as("sum_k"))
    }),
    // Custom DataSource V2 (graft.sources.SynthSource): a deterministic
    // generator corpus — text is a pure function of doc_id, so the DuckDB
    // oracle REGENERATES the same corpus in SQL and the hash match proves
    // the connector (TableProvider → Scan → partition readers) produces
    // exactly the specified rows across its parallel id-range partitions.
    "q_synth_source" -> ((s, _) =>
      s.read.format("graft.sources.SynthSource")
        .option("rows", "500").option("partitions", "8").load()
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")),
    // DSv2 AGGREGATE pushdown: ungrouped count(*)/min/max over the dense
    // filter-narrowed id range are pure range arithmetic — the connector
    // answers with ONE row and Spark plans NO aggregation at all
    // (supportCompletePushDown), the same contract a parquet scan honors
    // with footer statistics. The oracle regenerates the range and
    // aggregates it the honest way; Round5OpsSpec pins PushedAggregates
    // in the plan and that no agg Exec survives.
    "q_synth_agg" -> ((s, _) =>
      s.read.format("graft.sources.SynthSource")
        .option("rows", "100000").option("partitions", "8").load()
        .where(col("doc_id") >= 1000 && col("doc_id") < 90000)
        .selectExpr("count(*) AS n", "min(doc_id) AS min_id",
          "max(doc_id) AS max_id")),
    // DSv2 STREAMING read (MicroBatchStream + admission control +
    // AvailableNow): the same generator flows as a paced multi-batch
    // stream (125 ids per micro-batch) into a parquet sink with
    // exactly-once offsets in the checkpoint; the batch READ-BACK of the
    // sink must reproduce the corpus the oracle regenerates in SQL —
    // proving the streaming path delivers exactly the batch rows, across
    // restarts (rerun resumes at the checkpointed end: no duplicates).
    "q_stream_synth" -> ((s, _) => {
      val base = s"$TmpRoot/stream_synth"
      val stream = s.readStream.format("graft.sources.SynthSource")
        .option("rows", "500").option("partitions", "4")
        .option("rowsPerBatch", "125").load()
      val query = stream.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("doc_id"), col("text")).orderBy("doc_id")
    }),
    // Schema evolution: two parquet batches written with DIFFERENT schemas
    // (a later batch gained a `lang` column), read back under mergeSchema
    // — missing columns surface as nulls, the union schema is the read
    // schema. The long-lived-dataset reality at 100 TB: schemas accrete
    // columns over years and old files are never rewritten.
    "q_schema_evolution" -> ((s, dir) => {
      val out = s"$TmpRoot/schema_evo"
      docs(s, dir).where(col("doc_id") % 2 === 0)
        .select("doc_id", "n_chars")
        .write.mode("overwrite").parquet(s"$out/a")
      docs(s, dir).where(col("doc_id") % 2 === 1)
        .select("doc_id", "n_chars", "lang")
        .write.mode("overwrite").parquet(s"$out/b")
      s.read.option("mergeSchema", "true").parquet(s"$out/a", s"$out/b")
        .groupBy(coalesce(col("lang"), lit("<missing>")).as("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),
    // Small-file compaction as an oracle-gated entry: write the corpus as
    // 64 tiny files (the streaming-sink/over-parallel-write pathology),
    // compact to a byte-sized target, and prove the file count collapsed
    // AND the data survived intact — the oracle recomputes the stats from
    // the source table, with files_collapsed pinned true.
    "q_compact" -> ((s, dir) => {
      val out = s"$TmpRoot/compact_docs"
      // The pathological layout scales with the fixture (r11 verdict
      // task 6): 64 tiny files ×3 bench reps at sf0.1 was ~1 bench
      // minute of pure fixture IO; 16 files at sf≥0.1 exercises the
      // same collapse (16 → 1-2 files, files_collapsed still pinned)
      // at a benchable cost. sf parsed from the data dir name; the
      // sf0.01 correctness gate keeps the original 64-file layout.
      val sf = "sf([0-9.]+)".r.findFirstMatchIn(dir)
        .map(_.group(1).toDouble).getOrElse(0.01)
      val nFiles = if (sf >= 0.1) 16 else 64
      docs(s, dir).repartition(nFiles).write.mode("overwrite").parquet(out)
      val (before, after) =
        graft.operators.Compact.compact(s, out, targetBytes = 4L * 1024 * 1024)
      s.read.parquet(out)
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .withColumn("files_collapsed", lit(before > after))
    }),
    // Dynamic partition overwrite — the lakehouse refresh primitive:
    // rewrite ONLY the partitions present in the incoming batch, leave the
    // rest of the table untouched. At 100 TB this is the difference
    // between rewriting one day's partition and the whole table (static
    // overwrite mode would truncate everything). Here: full write
    // partitioned by lang, then a lang='en' recompute (+1000 to every
    // n_chars) overwritten dynamically; the read-back proves en changed
    // and every other partition survived.
    "q_partition_overwrite" -> ((s, dir) => {
      val out = s"$TmpRoot/docs_part_dyn"
      val d = docs(s, dir)
      d.write.mode("overwrite").partitionBy("lang").parquet(out)
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        d.where(col("lang") === "en")
          .withColumn("n_chars", col("n_chars") + 1000)
          .write.mode("overwrite").partitionBy("lang").parquet(out)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.read.parquet(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),
    // Hive-style partitioned layout + partition pruning: only the lang=…
    // directories named by the filter are read (PartitionFilters in the
    // scan; at 100 TB this is the difference between scanning one
    // partition and the whole table).
    "q_partitioned_scan" -> ((s, dir) => {
      val out = s"$TmpRoot/docs_by_lang"
      docs(s, dir).write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .where(col("lang").isin("en", "fr"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    })
  )

  val oracle: Map[String, String] = strictMap(
    "q_scan_text" ->
      "SELECT doc_id, lang, source, n_chars, text FROM documents ORDER BY doc_id",
    "q_repartition" ->
      "SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents",
    "q_tokenize" ->
      s"WITH $ToksSql SELECT doc_id, word FROM toks ORDER BY doc_id, word",
    "q_filter_nonempty" ->
      s"WITH $ToksSql SELECT doc_id, count(*) AS n_kept FROM toks GROUP BY doc_id ORDER BY doc_id",
    "q_encode" ->
      s"""WITH $ToksSql
         |SELECT word, regexp_replace(lower(word), '[^`-z]', '', 'g') AS norm
         |FROM (SELECT DISTINCT word FROM toks) ORDER BY word""".stripMargin,
    "q_encode_exact" ->
      s"""WITH $ToksSql
         |SELECT word, ${encodeSql("word")} AS enc
         |FROM (SELECT DISTINCT word FROM toks) ORDER BY word""".stripMargin,
    // reducer = BigInteger(enc) mod 4 = last-two-digits mod 4, because
    // 100 ≡ 0 (mod 4): enc is a decimal digit string, so
    // n = 100·prefix + suffix2 ⇒ n mod 4 = suffix2 mod 4. right(enc, 2)
    // is enc itself when enc has one digit.
    "q_topk_per_reducer" ->
      s"""WITH $ToksSql,
         |wc AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
         |enc AS (SELECT word, cnt, ${encodeSql("word")} AS e FROM wc),
         |r AS (SELECT CAST(CAST(right(e, 2) AS BIGINT) % 4 AS BIGINT) AS reducer,
         |             word, cnt FROM enc),
         |t AS (SELECT reducer, word, cnt,
         |        row_number() OVER (PARTITION BY reducer
         |                           ORDER BY cnt DESC, word) AS rn
         |      FROM r)
         |SELECT reducer, word, cnt FROM t WHERE rn <= 20
         |ORDER BY reducer, cnt DESC, word""".stripMargin,
    "q_wordcount" -> WordcountSql,
    "q_sort_value_key" ->
      """SELECT event_id, user_id, event_type, round(value, 4) AS v
        |FROM events ORDER BY v DESC, event_id""".stripMargin,
    "q_topk" -> (WordcountSql + " LIMIT 20"),
    "q_distinct" ->
      s"WITH $ToksSql SELECT DISTINCT word FROM toks ORDER BY word",
    "q_sink_roundtrip" -> WordcountSql,
    "q_sink_csv_roundtrip" -> WordcountSql,
    "q_sink_xml_roundtrip" -> WordcountSql,
    "q_sink_json_roundtrip" -> WordcountSql,
    "q_sink_orc_roundtrip" -> WordcountSql,
    "q_sink_text_roundtrip" ->
      s"""WITH $ToksSql
         |SELECT word, count(*) AS cnt FROM toks
         |WHERE NOT regexp_matches(word, '[\\r\\n]')
         |GROUP BY word ORDER BY cnt DESC, word""".stripMargin,
    "q_sql_frontend" -> WordcountSql,
    // rows_committed must equal the wordcount cardinality; the xor
    // partitioning-invariance pin is TRUE by the commit protocol
    "q_checksum_sink" ->
      s"""WITH $ToksSql,
         |wc AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word)
         |SELECT count(*) AS n_words, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  count(*) AS rows_committed, true AS checksum_stable
         |FROM wc""".stripMargin,
    "q_csv_corrupt" ->
      """SELECT count(*) + CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
        |  count(*) AS n_good,
        |  CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_k
        |FROM orders""".stripMargin,
    "q_synth_source" -> {
      val cases = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
        s"WHEN '$c' THEN '${graft.sources.SynthSource.Vocab(i)}'"
      }.mkString(" ")
      s"""WITH g AS (
         |  SELECT i AS doc_id,
         |    array_to_string(list_transform(
         |      split(substr(md5(CAST(i AS VARCHAR)), 1, 16), ''),
         |      c -> CASE c $cases END), ' ') AS text
         |  FROM generate_series(0, 499) t(i)
         |)
         |SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
         |FROM g ORDER BY doc_id""".stripMargin
    },
    // same corpus regeneration — the stream sink's read-back must carry
    // exactly the batch-generated rows
    "q_stream_synth" -> {
      val cases = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
        s"WHEN '$c' THEN '${graft.sources.SynthSource.Vocab(i)}'"
      }.mkString(" ")
      s"""WITH g AS (
         |  SELECT i AS doc_id,
         |    array_to_string(list_transform(
         |      split(substr(md5(CAST(i AS VARCHAR)), 1, 16), ''),
         |      c -> CASE c $cases END), ' ') AS text
         |  FROM generate_series(0, 499) t(i)
         |)
         |SELECT doc_id, text FROM g ORDER BY doc_id""".stripMargin
    },
    // regenerates the id range and aggregates it the honest way — the
    // engine side answers from range arithmetic without generating rows
    "q_synth_agg" ->
      """WITH g AS (SELECT unnest(generate_series(0, 99999)) AS doc_id)
        |SELECT count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM g WHERE doc_id >= 1000 AND doc_id < 90000""".stripMargin,
    // coalesce also on the odd (lang-bearing) branch: a NULL lang in the
    // newer batch must land in '<missing>' on both sides, as the Spark
    // query's coalesce does
    "q_schema_evolution" ->
      """SELECT CASE WHEN doc_id % 2 = 1 THEN coalesce(lang, '<missing>')
        |       ELSE '<missing>' END AS lang,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "q_partitioned_scan" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_compact" ->
      """SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  true AS files_collapsed
        |FROM documents""".stripMargin,
    // en partition rewritten with +1000 per row, every other lang intact
    "q_partition_overwrite" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars + CASE WHEN lang = 'en' THEN 1000 ELSE 0 END)
        |       AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  )
}
