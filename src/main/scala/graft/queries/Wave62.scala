package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ckpt._

/** Wave-62 additions — recursive pair similarity, swing item2item,
  * probabilistic record linkage, CRDT merge semantics, and the per-source
  * dataset card:
  *
  *  - q_simrank: SimRank (Jeh-Widom '02, C = 0.8, 3 unrolled iterations)
  *    on the ≤25-node dominant-direction nation flow digraph (the q_scc
  *    projection — data-scale work is ONE flow aggregation; the
  *    iteration runs on a constant-size frame). "Two nations are similar
  *    if their suppliers are similar" — the recursive structural
  *    similarity that common-neighbor scores (q_adamic_adar) cannot
  *    express. State is the sparse (a, b, s) matrix; each iteration is
  *    two equi-joins through in-edges (never a cartesian: the s-matrix
  *    join carries (i, j), the diagonal contribution joins on i = j).
  *  - q_swing: the Swing item-to-item score (Alibaba '18) on part pairs
  *    through order baskets — Σ over ORDER PAIRS that co-bought (i, j)
  *    of 1/(1 + co(ok₁, ok₂)): user pairs with many shared items count
  *    LESS, which kills the "power-basket inflates every pair" failure
  *    of plain co-occurrence (q_item2item). Bounded everywhere: baskets
  *    ≤ 64 (the partEdges cap) and orders-per-part ≤ SwingCap by md5
  *    rank, so per-item-pair order pairs ≤ C(SwingCap, 2).
  *  - q_fellegi_sunter: probabilistic record linkage over customers —
  *    blocked candidate pairs (nation × acctbal-thousand), per-field
  *    agreement (segment / name-digit-suffix / balance proximity)
  *    weights ln(m/u) / ln((1−m)/(1−u)) with DOCUMENTED
  *    literal m/u assumptions, summed into a match score and classified
  *    match / possible / non-match (the Fellegi-Sunter '69 decision
  *    rule). Weights are Scala-computed 8-decimal literals inlined into
  *    BOTH plans — no engine ever evaluates ln.
  *  - q_lww_register: last-writer-wins register merge (the CRDT
  *    convergence property, pinned): per user, the (ts, event_id)-max
  *    event wins; merging the two replica halves (event_id parity) must
  *    equal the LWW over the union — the `converged` column computes
  *    that equality instead of assuming it.
  *  - q_data_card: the per-source dataset card — doc/char/token counts,
  *    language mix with deterministic top-lang argmax, vocabulary size —
  *    the one-stop summary a corpus release ships with. One token
  *    aggregation + one doc aggregation, both partial-agg'd.
  *
  * Determinism: SimRank/Swing terms are 8-decimal rounded divisions from
  * exact integers (decimal-summed); FS weights are literal decimals;
  * LWW winners are unique by (ts, event_id); all outputs end in total
  * ORDER BYs.
  */
object Wave62 extends Catalog {

  private val SimRankC = "0.8"
  private val SimRankIters = 3
  /** Orders kept per part for Swing (md5-rank sampled — a constant, so
    * order-pair fan-out is ≤ C(cap, 2) per item pair at any scale). */
  private val SwingCap = 16

  /** Fellegi-Sunter field weights from documented m/u assumptions
    * (match/unmatch agreement probabilities), inlined as 8-decimal
    * literals so neither engine evaluates ln at runtime:
    * mktsegment (m=.9, u=.2), name-suffix last-3 digits (m=.95,
    * u=.001 — the rare-identifier field; the harness customer table has
    * no phone column), acctbal within 100.00 (m=.8, u=.02). */
  private def w8(m: Double, u: Double): String = f"${math.log(m / u)}%.8f"
  private val WSeg = (w8(0.9, 0.2), w8(0.1, 0.8))
  private val WPh = (w8(0.95, 0.001), w8(0.05, 0.999))
  private val WBal = (w8(0.8, 0.02), w8(0.2, 0.98))
  /** Match / possible decision thresholds on the summed score. */
  private val FsUpper = "5.0"
  private val FsLower = "0.0"

  /** Dominant-direction nation flow digraph (u → v when flow(u→v) >
    * flow(v→u)), the q_scc projection (Wave26) — ≤ 25 nodes, built from
    * ONE data-scale aggregation. */
  private def nationFlow(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val f = table(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(table(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(table(s, dir, "customer")
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(s, dir, "supplier")
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
      .agg(count(lit(1)).as("fl"))
    f.as("a")
      .join(f.select(col("cn").as("bsn"), col("sn").as("bcn"),
        col("fl").as("bfl")),
        col("a.cn") === col("bcn") && col("a.sn") === col("bsn"),
        "left_outer")
      .where(col("a.cn") =!= col("a.sn") &&
        col("a.fl") > coalesce(col("bfl"), lit(0L)))
      .select(col("a.cn").as("u"), col("a.sn").as("v"))
  }

  /** SQL twin of [[nationFlow]] (CTE body defining `e(u, v)`). */
  private val NationFlowSql =
    """f AS (
      |  SELECT c.c_nationkey AS cn, s.s_nationkey AS sn, count(*) AS fl
      |  FROM orders o
      |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2
      |),
      |e AS MATERIALIZED (
      |  SELECT a.cn AS u, a.sn AS v
      |  FROM f a LEFT JOIN f b ON a.cn = b.sn AND a.sn = b.cn
      |  WHERE a.cn <> a.sn AND a.fl > coalesce(b.fl, 0)
      |)""".stripMargin

  val queries: Map[String, Q] = strictMap(

    "q_simrank" -> ((s, dir) => {
      val e = nationFlow(s, dir).ckpt()
      // in-neighbor lists and in-degrees of the tiny digraph
      val inb = e.select(col("v").as("a"), col("u").as("i")).ckpt()
      val icnt = inb.groupBy("a").agg(count(lit(1)).as("c")).ckpt()
      // sparse off-diagonal s-matrix; absent = 0, diagonal implied 1
      var sk: Option[org.apache.spark.sql.DataFrame] = None
      for (_ <- 1 to SimRankIters) {
        // Σ s_k(i, j) over i ∈ I(a), j ∈ I(b): the off-diagonal part
        // joins THROUGH the sparse matrix (equi on i, then j); the
        // diagonal part (i = j ∈ I(a) ∩ I(b)) is one equi self-join —
        // never a cartesian over in-neighbor lists. Iteration 1 has an
        // empty off-diagonal matrix (s₀ = identity).
        val t1 = sk.map { m =>
          inb
            .join(m.select(col("a").as("si"), col("b").as("sj"), col("sv")),
              col("i") === col("si"))
            .select(col("a"), col("sj"), col("sv"))
            .join(inb.select(col("a").as("b"), col("i").as("sj")), "sj")
            .groupBy("a", "b").agg(sum(col("sv")).as("s1"))
        }
        val t2 = inb
          .join(inb.select(col("a").as("b"), col("i")), "i")
          .groupBy("a", "b").agg(count(lit(1)).as("s2"))
        val joined = t1 match {
          case None => t2.withColumn("s1", expr("CAST(0 AS DECIMAL(28,8))"))
          case Some(t) => t2.join(t, Seq("a", "b"), "full_outer")
        }
        sk = Some(joined
          .where(col("a") =!= col("b"))
          .join(icnt.select(col("a"), col("c").as("ca")), "a")
          .join(icnt.select(col("a").as("b"), col("c").as("cb")), "b")
          .select(col("a"), col("b"), expr(
            s"""CAST(round($SimRankC *
               |  CAST(coalesce(CAST(s1 AS DECIMAL(28,8)), CAST(0 AS DECIMAL(28,8)))
               |       + coalesce(s2, 0) AS DOUBLE)
               |  / CAST(ca * cb AS DOUBLE), 8) AS DECIMAL(18,8))"""
              .stripMargin).as("sv"))
          .where(col("sv") > 0)
          .ckpt())
      }
      sk.get.selectExpr("CAST(a AS BIGINT) AS a", "CAST(b AS BIGINT) AS b",
          "round(CAST(sv AS DOUBLE), 6) AS simrank")
        .orderBy(desc("simrank"), asc("a"), asc("b")).limit(20)
    }),

    "q_swing" -> ((s, dir) => {
      val b0 = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val small = b0.groupBy("ok").agg(count(lit(1)).as("bsz"))
        .where(col("bsz") <= 64).select("ok")
      val bb = b0.join(small, "ok")
      // constant orders-per-part cap by md5 rank — keeps the order-pair
      // fan-out per item pair at C(SwingCap, 2) regardless of popularity
      val bc = bb.withColumn("r", row_number().over(
          Window.partitionBy("pk")
            .orderBy(expr("md5(CAST(ok AS STRING))"), col("ok"))))
        .where(col("r") <= SwingCap).select("ok", "pk").ckpt()
      // co(ok1, ok2): shared (capped) items per order pair
      val op = bc.select(col("ok").as("ok1"), col("pk"))
        .join(bc.select(col("ok").as("ok2"), col("pk")), "pk")
        .where(col("ok1") < col("ok2"))
        .groupBy("ok1", "ok2").agg(count(lit(1)).as("co"))
      // item pairs per order, then order pairs per item pair (equi joins)
      val t = bc.select(col("ok"), col("pk").as("i"))
        .join(bc.select(col("ok"), col("pk").as("j")), "ok")
        .where(col("i") < col("j"))
      val up = t.select(col("i"), col("j"), col("ok").as("ok1"))
        .join(t.select(col("i"), col("j"), col("ok").as("ok2")),
          Seq("i", "j"))
        .where(col("ok1") < col("ok2"))
      up.join(op, Seq("ok1", "ok2"))
        .groupBy("i", "j")
        .agg(count(lit(1)).as("n_pairs"),
          dsum(expr(
            "CAST(round(1.0 / (1 + co), 8) AS DECIMAL(10,8))"), 8).as("sw"))
        .selectExpr("CAST(i AS BIGINT) AS i", "CAST(j AS BIGINT) AS j",
          "CAST(n_pairs AS BIGINT) AS n_pairs", "round(sw, 6) AS swing")
        .orderBy(desc("swing"), asc("i"), asc("j")).limit(20)
    }),

    "q_fellegi_sunter" -> ((s, dir) => {
      val c = table(s, dir, "customer").select(
        col("c_custkey").as("ck"), col("c_nationkey").as("nk"),
        col("c_mktsegment").as("seg"),
        expr("substring(c_name, length(c_name) - 2, 3)").as("ph4"),
        expr("CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT)")
          .as("cents"))
        .withColumn("blk", expr("CAST(floor(cents / 100000.0) AS BIGINT)"))
        .ckpt()
      val pairs = c.select(col("ck").as("a"), col("nk"), col("blk"),
          col("seg").as("sega"), col("ph4").as("pha"),
          col("cents").as("ca"))
        .join(c.select(col("ck").as("b"), col("nk"), col("blk"),
          col("seg").as("segb"), col("ph4").as("phb"),
          col("cents").as("cb")), Seq("nk", "blk"))
        .where(col("a") < col("b"))
      pairs
        .withColumn("w_seg", expr(
          s"CAST(CASE WHEN sega = segb THEN ${WSeg._1} ELSE ${WSeg._2} END AS DECIMAL(12,8))"))
        .withColumn("w_ph", expr(
          s"CAST(CASE WHEN pha = phb THEN ${WPh._1} ELSE ${WPh._2} END AS DECIMAL(12,8))"))
        .withColumn("w_bal", expr(
          s"CAST(CASE WHEN abs(ca - cb) < 10000 THEN ${WBal._1} ELSE ${WBal._2} END AS DECIMAL(12,8))"))
        .withColumn("score", expr(
          "CAST(w_seg + w_ph + w_bal AS DECIMAL(14,8))"))
        .withColumn("klass", expr(
          s"""CASE WHEN score >= $FsUpper THEN 'match'
             |     WHEN score >= $FsLower THEN 'possible'
             |     ELSE 'non-match' END""".stripMargin))
        .selectExpr("CAST(a AS BIGINT) AS a", "CAST(b AS BIGINT) AS b",
          "klass", "round(CAST(score AS DOUBLE), 6) AS score")
        .orderBy(desc("score"), asc("a"), asc("b")).limit(20)
    }),

    "q_lww_register" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("tsu"))
      def lww(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(desc("tsu"), desc("event_id"))))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("tsu"))
      val global = lww(ev)
      // two replicas by event-id parity; merging their registers = one
      // more LWW pick between the two replica winners
      val merged = lww(lww(ev.where(col("event_id") % 2 === 0))
        .unionByName(lww(ev.where(col("event_id") % 2 === 1))))
      global.join(merged.select(col("user_id"),
          col("event_id").as("m_event_id")), "user_id")
        .selectExpr("CAST(user_id AS BIGINT) AS user_id",
          "CAST(event_id AS BIGINT) AS last_event_id",
          "event_type AS last_type",
          "CAST(tsu AS BIGINT) AS last_ts_us",
          "event_id = m_event_id AS converged")
        .orderBy("user_id")
    }),

    "q_data_card" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val docStats = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"))
      val topLang = d.groupBy("source", "lang")
        .agg(count(lit(1)).as("ln"))
        .withColumn("rn", row_number().over(Window.partitionBy("source")
          .orderBy(desc("ln"), asc("lang"))))
        .where(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      val tokStats = corpusToks(s, dir)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("word")).as("vocab"))
      docStats.join(topLang, "source").join(tokStats, "source")
        .selectExpr("source", "CAST(n_docs AS BIGINT) AS n_docs",
          "CAST(sum_chars AS BIGINT) AS sum_chars",
          "CAST(n_langs AS BIGINT) AS n_langs", "top_lang",
          "CAST(n_tokens AS BIGINT) AS n_tokens",
          "CAST(vocab AS BIGINT) AS vocab",
          "round(CAST(n_tokens AS DOUBLE) / n_docs, 4) AS mean_tokens")
        .orderBy("source")
    })
  )

  val oracle: Map[String, String] = strictMap(

    "q_simrank" -> {
      val rounds = (1 to SimRankIters).map { t =>
        val prev = if (t == 1) "" else
          s"""t1_$t AS (
             |  SELECT x.a, y.a AS b, sum(sk.sv) AS s1
             |  FROM inb x
             |  JOIN s${t - 1} sk ON sk.a = x.i
             |  JOIN inb y ON y.i = sk.b
             |  GROUP BY 1, 2
             |),""".stripMargin
        val s1ref = if (t == 1) "CAST(NULL AS DECIMAL(28,8))"
                    else "t1.s1"
        val joinT1 = if (t == 1) ""
                     else s"LEFT JOIN t1_$t t1 ON t1.a = t2.a AND t1.b = t2.b"
        s"""${prev}
           |t2_$t AS (
           |  SELECT x.a, y.a AS b, count(*) AS s2
           |  FROM inb x JOIN inb y ON y.i = x.i
           |  GROUP BY 1, 2
           |),
           |s$t AS MATERIALIZED (
           |  SELECT t2.a, t2.b,
           |    CAST(round($SimRankC *
           |      CAST(coalesce(CAST($s1ref AS DECIMAL(28,8)), CAST(0 AS DECIMAL(28,8)))
           |           + coalesce(t2.s2, 0) AS DOUBLE)
           |      / CAST(ca.c * cb.c AS DOUBLE), 8) AS DECIMAL(18,8)) AS sv
           |  FROM t2_$t t2
           |  $joinT1
           |  JOIN icnt ca ON ca.a = t2.a
           |  JOIN icnt cb ON cb.a = t2.b
           |  WHERE t2.a <> t2.b
           |)""".stripMargin
      }.map(_.replaceAll("(?m)^\\s*$\\n", "")).mkString(",\n")
      s"""WITH $NationFlowSql,
         |inb AS MATERIALIZED (SELECT v AS a, u AS i FROM e),
         |icnt AS (SELECT a, count(*) AS c FROM inb GROUP BY a),
         |$rounds
         |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
         |  round(CAST(sv AS DOUBLE), 6) AS simrank
         |FROM s$SimRankIters WHERE sv > 0
         |ORDER BY simrank DESC, a, b LIMIT 20""".stripMargin
    },

    "q_swing" ->
      s"""WITH b0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |            FROM lineitem),
         |small AS (SELECT ok FROM b0 GROUP BY ok HAVING count(*) <= 64),
         |bb AS (SELECT b0.* FROM b0 JOIN small USING (ok)),
         |bc AS MATERIALIZED (
         |  SELECT ok, pk FROM (
         |    SELECT ok, pk, row_number() OVER (
         |      PARTITION BY pk ORDER BY md5(CAST(ok AS VARCHAR)), ok) AS r
         |    FROM bb)
         |  WHERE r <= $SwingCap
         |),
         |op AS MATERIALIZED (
         |  SELECT x.ok AS ok1, y.ok AS ok2, count(*) AS co
         |  FROM bc x JOIN bc y ON x.pk = y.pk AND x.ok < y.ok
         |  GROUP BY 1, 2
         |),
         |t AS MATERIALIZED (
         |  SELECT x.ok, x.pk AS i, y.pk AS j
         |  FROM bc x JOIN bc y ON x.ok = y.ok AND x.pk < y.pk
         |),
         |up AS (
         |  SELECT x.i, x.j, x.ok AS ok1, y.ok AS ok2
         |  FROM t x JOIN t y ON x.i = y.i AND x.j = y.j AND x.ok < y.ok
         |)
         |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(${dsumSql("CAST(round(1.0 / (1 + co), 8) AS DECIMAL(10,8))", 8)}, 6) AS swing
         |FROM up JOIN op USING (ok1, ok2)
         |GROUP BY i, j
         |ORDER BY swing DESC, i, j LIMIT 20""".stripMargin,

    "q_fellegi_sunter" ->
      s"""WITH c AS (
         |  SELECT c_custkey AS ck, c_nationkey AS nk, c_mktsegment AS seg,
         |    substring(c_name, length(c_name) - 2, 3) AS ph4,
         |    CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents,
         |    CAST(floor(CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT) / 100000.0) AS BIGINT) AS blk
         |  FROM customer
         |),
         |p AS (
         |  SELECT x.ck AS a, y.ck AS b,
         |    CAST(CASE WHEN x.seg = y.seg THEN ${WSeg._1} ELSE ${WSeg._2} END AS DECIMAL(12,8)) AS w_seg,
         |    CAST(CASE WHEN x.ph4 = y.ph4 THEN ${WPh._1} ELSE ${WPh._2} END AS DECIMAL(12,8)) AS w_ph,
         |    CAST(CASE WHEN abs(x.cents - y.cents) < 10000 THEN ${WBal._1} ELSE ${WBal._2} END AS DECIMAL(12,8)) AS w_bal
         |  FROM c x JOIN c y ON x.nk = y.nk AND x.blk = y.blk AND x.ck < y.ck
         |),
         |sc AS (
         |  SELECT a, b, CAST(w_seg + w_ph + w_bal AS DECIMAL(14,8)) AS score
         |  FROM p
         |)
         |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
         |  CASE WHEN score >= $FsUpper THEN 'match'
         |       WHEN score >= $FsLower THEN 'possible'
         |       ELSE 'non-match' END AS klass,
         |  round(CAST(score AS DOUBLE), 6) AS score
         |FROM sc ORDER BY score DESC, a, b LIMIT 20""".stripMargin,

    "q_lww_register" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
        |  FROM events
        |),
        |g AS (
        |  SELECT user_id, event_id, event_type, tsu FROM (
        |    SELECT ev.*, row_number() OVER (PARTITION BY user_id
        |      ORDER BY tsu DESC, event_id DESC) AS rn FROM ev)
        |  WHERE rn = 1
        |),
        |ra AS (
        |  SELECT user_id, event_id, event_type, tsu FROM (
        |    SELECT ev.*, row_number() OVER (PARTITION BY user_id
        |      ORDER BY tsu DESC, event_id DESC) AS rn
        |    FROM ev WHERE event_id % 2 = 0)
        |  WHERE rn = 1
        |),
        |rb AS (
        |  SELECT user_id, event_id, event_type, tsu FROM (
        |    SELECT ev.*, row_number() OVER (PARTITION BY user_id
        |      ORDER BY tsu DESC, event_id DESC) AS rn
        |    FROM ev WHERE event_id % 2 = 1)
        |  WHERE rn = 1
        |),
        |m AS (
        |  SELECT user_id, event_id FROM (
        |    SELECT u.*, row_number() OVER (PARTITION BY user_id
        |      ORDER BY tsu DESC, event_id DESC) AS rn
        |    FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) u)
        |  WHERE rn = 1
        |)
        |SELECT CAST(g.user_id AS BIGINT) AS user_id,
        |  CAST(g.event_id AS BIGINT) AS last_event_id,
        |  g.event_type AS last_type,
        |  CAST(g.tsu AS BIGINT) AS last_ts_us,
        |  g.event_id = m.event_id AS converged
        |FROM g JOIN m ON g.user_id = m.user_id
        |ORDER BY user_id""".stripMargin,

    "q_data_card" ->
      s"""WITH ${Reference.ToksSql},
         |ds AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |    count(DISTINCT lang) AS n_langs
         |  FROM documents GROUP BY source
         |),
         |tl AS (
         |  SELECT source, lang AS top_lang FROM (
         |    SELECT source, lang, row_number() OVER (PARTITION BY source
         |      ORDER BY count(*) DESC, lang) AS rn
         |    FROM documents GROUP BY source, lang)
         |  WHERE rn = 1
         |),
         |ts AS (
         |  SELECT d.source, count(*) AS n_tokens,
         |    count(DISTINCT word) AS vocab
         |  FROM toks JOIN documents d ON d.doc_id = toks.doc_id
         |  GROUP BY d.source
         |)
         |SELECT ds.source AS source, CAST(ds.n_docs AS BIGINT) AS n_docs,
         |  ds.sum_chars AS sum_chars,
         |  CAST(ds.n_langs AS BIGINT) AS n_langs, tl.top_lang AS top_lang,
         |  CAST(ts.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(ts.vocab AS BIGINT) AS vocab,
         |  round(CAST(ts.n_tokens AS DOUBLE) / ds.n_docs, 4) AS mean_tokens
         |FROM ds JOIN tl ON tl.source = ds.source
         |JOIN ts ON ts.source = ds.source
         |ORDER BY source""".stripMargin
  )
}
