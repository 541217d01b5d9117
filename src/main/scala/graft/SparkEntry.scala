package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ast.QueryJson
import graft.llm.{Bpe, CorpusIo, Dedup, Embed, Multimodal, Sample, Text}
import graft.model.AkuTime
import graft.plan.{EventOps, Meta, Planner, TsAnalytics}
import graft.serve.OutputFormat
import graft.sources.TestData

/** Driver contract — one gated entry per implemented operator from
  * SURVEY.md §2, each flowing through the real engine
  * (JSON -> AST -> Planner -> DataFrame) and paired with a DuckDB oracle.
  *
  * Output discipline: every query ends in an explicit total ORDER BY over
  * its output columns, timestamps are emitted as ns BIGINT, and
  * order-of-accumulation-sensitive doubles (sum/mean) are rounded to 6
  * decimals on BOTH sides so the driver's hash compare is stable.
  */
object SparkEntry {

  // ---- shared time constants (single source of truth for JSON + SQL) ----
  private val T0iso = "20240105T000000"; private val T0 = AkuTime.parseTs(T0iso)
  private val T1iso = "20240120T000000"; private val T1 = AkuTime.parseTs(T1iso)
  private val W0iso = "20240101T000000"
  private val W1iso = "20240201T000000"
  private val Day = 86400L * 1000000000L
  private val H6  = 6 * 3600L * 1000000000L

  // SQL fragments mirroring the TestData.events build over the raw table
  private val kSql = "(json_extract_string(props,'$.k')::INT % 10)"
  private def snameSql(metricExpr: String): String =
    s"$metricExpr || ' k=' || $kSql || ' user=' || user_id"
  private val tsSql = "epoch_ns(ts)"
  private def rangeSql(a: String = "2024-01-05", b: String = "2024-01-20") =
    s"ts >= TIMESTAMP '$a' AND ts < TIMESTAMP '$b'"
  private def rangeBwSql(hi: String = "2024-01-20", lo: String = "2024-01-05") =
    s"ts <= TIMESTAMP '$hi' AND ts > TIMESTAMP '$lo'"

  /** Run a JSON query through the engine against the events store. */
  private def run(json: String)(spark: SparkSession, sfDir: String): DataFrame =
    Planner.plan(QueryJson.parse(json), TestData.events(spark, sfDir)).df

  private def runEv(json: String)(spark: SparkSession, sfDir: String): DataFrame =
    Planner.plan(QueryJson.parse(json), TestData.eventStore(spark, sfDir)).df

  private final case class Gated(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** One Lloyd step from the pinned vec_id<4 init, means rounded 6 —
    * the shared centroid recipe of every IVF-celled gate (graph, topk,
    * clusters), identical to the oracle's assign0/cm/cent CTEs. */
  private def ivfCentroids(s: SparkSession, d: String): Seq[Seq[Double]] = {
    val emb = TestData.table(s, d, "embeddings")
    val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(Embed.normalized(col("embedding")))
      .collect().toSeq.map(_.getSeq[Double](0).toSeq)
    val step = Embed.kmeansStep(emb, init)
      .select(col("cell"), col("dim"), round(col("m"), 6).as("m"))
      .collect()
    val byCell = step.groupBy(_.getInt(0))
    init.indices.map(c => byCell.get(c).fold(init(c))(
      rs => rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq))
  }

  /** DuckDB replay of [[ivfCentroids]] + the rounded-cosine cell
    * assignment of every vector: CTE chain ending in `av` =
    * (vec_id, v, cell). Shared front half of the celled-ANN oracles. */
  private val ivfAssignCtes: String =
    """e0 AS (SELECT vec_id,
      |    list_transform(embedding, x -> x::DOUBLE) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_transform(v, x ->
      |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
      |  FROM e0),
      |init AS (SELECT vec_id::INT AS cid, u FROM n WHERE vec_id < 4),
      |assign0 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT n.vec_id, init.cid,
      |      row_number() OVER (PARTITION BY n.vec_id
      |        ORDER BY round(list_cosine_similarity(n.u, init.u), 6)
      |          DESC, init.cid DESC) AS rn
      |    FROM n CROSS JOIN init) WHERE rn = 1),
      |mem AS (SELECT a.cid AS cell, n.u
      |  FROM assign0 a JOIN n USING (vec_id)),
      |cm AS (SELECT cell, (i - 1)::INT AS dim, round(avg(u[i]), 6) AS m
      |  FROM mem CROSS JOIN
      |    (SELECT unnest(generate_series(1, 64)) AS i)
      |  GROUP BY 1, 2),
      |cent AS (SELECT cell, list(m ORDER BY dim) AS cv
      |  FROM cm GROUP BY cell),
      |e AS (SELECT vec_id, v FROM e0
      |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
      |sc AS (SELECT e.vec_id, e.v, cent.cell,
      |    round(list_cosine_similarity(e.v, cent.cv), 6) AS cs
      |  FROM e CROSS JOIN cent),
      |av AS (SELECT vec_id, v, cell FROM (SELECT *,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cs DESC, cell DESC) AS rn FROM sc)
      |  WHERE rn = 1)""".stripMargin

  /** Brute-force k-NN label-vote oracle (5-NN, majority vote, ties to
    * the smaller label) — shared by embed_knn_classify and its celled
    * sibling (full probing makes the celled path bit-identical). */
  private val knnClassifyOracle: String =
    """WITH e AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> x::DOUBLE) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e
      |  WHERE vec_id % 5 = 0),
      |lab AS (SELECT vec_id AS nid, label, v AS nv FROM e
      |  WHERE vec_id % 5 <> 0),
      |scored AS (SELECT q.qid, lab.nid, lab.label,
      |    round(list_cosine_similarity(q.qv, lab.nv), 6) AS s
      |  FROM q CROSS JOIN lab),
      |top AS (SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY s DESC, nid ASC) AS rnk FROM scored),
      |votes AS (SELECT qid, label AS pred_label, count(*) AS n_votes
      |  FROM top WHERE rnk <= 5 GROUP BY 1, 2)
      |SELECT qid, pred_label, n_votes FROM (SELECT *,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY n_votes DESC, pred_label ASC) AS vr
      |  FROM votes) WHERE vr = 1 ORDER BY qid""".stripMargin

  /** [[ivfAssignCtes]] + the probed-cell k-NN graph (knnGraphCells,
    * probes=2): CTE chain ending in `r` = the ranked celled graph.
    * Shared by embed_knn_graph_ivf / embed_knn_clusters. */
  private val ivfKnnCtes: String = ivfAssignCtes +
    """,
      |pq AS (SELECT vec_id AS qid, v AS qv, cell FROM (SELECT *,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cs DESC, cell DESC) AS rn FROM sc)
      |  WHERE rn <= 2),
      |s AS (SELECT pq.qid, av.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(pq.qv, av.v), 6) AS score
      |  FROM pq JOIN av USING (cell) WHERE av.vec_id <> pq.qid),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY score DESC, neighbor_id ASC)::BIGINT AS rnk
      |  FROM s)""".stripMargin

  /** All-pairs word-3gram Jaccard >= 0.5 in DuckDB — the oracle for both
    * the exact shared-shingle dedup and the MinHash-LSH path (whose
    * detection probability at J=0.5 with 64 bands x 2 rows is
    * 1-(1-0.25)^64 ≈ 1-1e-8, i.e. exact in practice). */
  private val ngramJaccardOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t) - 1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |    ELSE [] END) AS g
      |  FROM toks)
      |SELECT a, b, jaccard FROM (
      |  SELECT x.doc_id AS a, y.doc_id AS b,
      |    round(len(list_intersect(x.g, y.g))::DOUBLE /
      |      (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))), 6) AS jaccard
      |  FROM grams x JOIN grams y ON x.doc_id < y.doc_id)
      |WHERE jaccard >= 0.5 ORDER BY 1, 2""".stripMargin

  // list_transform to DOUBLE: DuckDB's float32 cosine differs from the
  // engine's double math in the 7th decimal otherwise
  private val embedNearDupOracle: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
      |SELECT a, b, score FROM (
      |  SELECT x.vec_id AS a, y.vec_id AS b,
      |    round(list_cosine_similarity(x.v, y.v), 6) AS score
      |  FROM e x JOIN e y ON x.vec_id < y.vec_id)
      |WHERE score >= 0.4 ORDER BY 1, 2""".stripMargin

  /** Direct 2-day group-aggregate over ALL events — what any correctly
    * maintained rollup store must serve (shared by the batch-update and
    * streaming-fold maintenance gates). */
  private lazy val rollupServe2dOracle: String =
    s"""WITH b AS (SELECT event_type AS metric,
       |    ${snameSql("event_type")} AS sname,
       |    ($tsSql // ${2 * Day}) * ${2 * Day} AS bucket,
       |    $tsSql AS t, value
       |  FROM events WHERE value IS NOT NULL),
       |f AS (SELECT *,
       |    row_number() OVER (PARTITION BY metric, sname, bucket
       |      ORDER BY t, value) AS rf,
       |    row_number() OVER (PARTITION BY metric, sname, bucket
       |      ORDER BY t DESC, value DESC) AS rl FROM b)
       |SELECT metric, sname, bucket, count(*) AS cnt,
       |  round(sum(value), 6) AS vsum,
       |  min(value) AS vmin, max(value) AS vmax,
       |  round(sum(value) / count(*), 6) AS mean,
       |  max(CASE WHEN rf = 1 THEN value END) AS first_v,
       |  max(CASE WHEN rl = 1 THEN value END) AS last_v
       |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Synthesized pages for the substring-dedup gates: every doc = its
    * first 8 words, plus a shared newsletter sentence (% 2 == 0) and/or
    * a shared legal sentence (% 5 == 0) — deterministic duplicated
    * 6-token runs, identical on both engines. */
  private def spanSynthDf(s: SparkSession, d: String): DataFrame =
    TestData.table(s, d, "documents").select(col("doc_id"),
      concat(
        concat_ws(" ", slice(split(col("text"), " "), 1, 8)),
        when(col("doc_id") % 2 === 0, lit(
          " subscribe to our newsletter for daily updates and offers"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(
          " all rights reserved contact corporate headquarters today"))
          .otherwise(lit(""))).as("text"))

  /** Oracle front half shared by the substring-dedup gates: the synth
    * pages, their token arrays (t), and their 6-token windows (w). */
  private val spanSynthCtes: String =
    """synth AS MATERIALIZED (
      |  SELECT doc_id,
      |    array_to_string(string_split(text, ' ')[1:8], ' ') ||
      |    CASE WHEN doc_id % 2 = 0 THEN
      |      ' subscribe to our newsletter for daily updates and offers'
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN
      |      ' all rights reserved contact corporate headquarters today'
      |      ELSE '' END AS text
      |  FROM documents),
      |t AS MATERIALIZED (SELECT doc_id,
      |    string_split_regex(trim(text), '\s+') AS toks FROM synth),
      |w AS MATERIALIZED (
      |  SELECT doc_id, i - 1 AS start,
      |    array_to_string(toks[i:i+5], chr(1)) AS gram
      |  FROM (SELECT doc_id, toks,
      |      unnest(generate_series(1, len(toks) - 5)) AS i
      |    FROM t WHERE len(toks) >= 6))""".stripMargin

  /** Oracle back half shared by the substring-dedup gates: rebuild the
    * docs in `tgt` with tokens under `cuts` removed. */
  private val spanRebuildSql: String =
    """,
      |tok AS MATERIALIZED (
      |  SELECT doc_id, i - 1 AS p, toks[i] AS tok
      |  FROM (SELECT doc_id, toks,
      |      unnest(generate_series(1, len(toks))) AS i FROM tgt)),
      |keep AS MATERIALIZED (
      |  SELECT tok.doc_id, p, tok FROM tok
      |  WHERE NOT EXISTS (SELECT 1 FROM cuts
      |    WHERE cuts.doc_id = tok.doc_id
      |      AND tok.p >= cuts.start AND tok.p < cuts.start + 6))
      |SELECT tgt.doc_id,
      |  coalesce(string_agg(keep.tok, ' ' ORDER BY keep.p), '')
      |    AS text,
      |  (len(tgt.toks) - count(keep.tok))::INT AS n_removed
      |FROM tgt LEFT JOIN keep ON keep.doc_id = tgt.doc_id
      |GROUP BY tgt.doc_id, len(tgt.toks)
      |ORDER BY tgt.doc_id""".stripMargin

  private val batchTopKOracle: String =
    """WITH e AS MATERIALIZED (SELECT vec_id,
      |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e
      |  WHERE vec_id % 101 = 0),
      |s AS (SELECT query_id, e.vec_id,
      |    round(list_cosine_similarity(qv, e.v), 6) AS score
      |  FROM q CROSS JOIN e),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, vec_id ASC) AS rn FROM s)
      |SELECT query_id, vec_id, score FROM r WHERE rn <= 5
      |ORDER BY query_id, score DESC, vec_id""".stripMargin

  private val annTopKOracle: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
      |SELECT b.vec_id, round(list_cosine_similarity(
      |    (SELECT v FROM e WHERE vec_id = 7), b.v), 6) AS score
      |FROM e b ORDER BY 2 DESC, 1 ASC LIMIT 10""".stripMargin

  /** Pruned IVF probe replay: assignment from [[ivfAssignCtes]], the
    * query's 2 nearest cells by centroid dot (topKIvfStored ranks raw
    * dot(c, q/|q|); cosine·|c| is the same ranking with |q| constant
    * across cells), then exact top-10 over ONLY those cells' members.
    * Probe ties break to the LARGER cell — the assignment kernel's
    * direction (see topKIvfStored's duplicate-centroid note). */
  private val prunedIvfOracle: String =
    s"""WITH $ivfAssignCtes,
       |qv AS (SELECT v FROM e0 WHERE vec_id = 7),
       |qs AS (SELECT cell, round(list_cosine_similarity(cv, (SELECT v FROM qv))
       |      * sqrt(list_sum(list_transform(cv, x -> x * x))), 6) AS ds
       |  FROM cent),
       |pc AS (SELECT cell FROM qs ORDER BY ds DESC, cell DESC LIMIT 2)
       |SELECT av.vec_id, round(list_cosine_similarity(
       |    (SELECT v FROM qv), av.v), 6) AS score
       |FROM av JOIN pc USING (cell)
       |ORDER BY 2 DESC, 1 ASC LIMIT 10""".stripMargin

  private val pqAdcCtes: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      |n AS (SELECT vec_id, list_transform(v, x ->
      |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u FROM e),
      |sub AS (SELECT vec_id, s, u[s*8+1 : s*8+8] AS sv
      |  FROM n CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s)),
      |init AS (SELECT vec_id::INT AS cid, s, sv AS cw
      |  FROM sub WHERE vec_id < 4),
      |a0 AS (SELECT vec_id, s, cid FROM (
      |    SELECT sub.vec_id, sub.s, init.cid,
      |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
      |        ORDER BY round(list_inner_product(sub.sv, init.cw)
      |          - list_sum(list_transform(init.cw, x -> x * x)) / 2, 6)
      |          DESC, init.cid DESC) AS rn
      |    FROM sub JOIN init USING (s)) WHERE rn = 1),
      |mean AS (SELECT a0.s, a0.cid, d, round(avg(sub.sv[d]), 6) AS m
      |  FROM a0 JOIN sub ON a0.vec_id = sub.vec_id AND a0.s = sub.s
      |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS d)
      |  GROUP BY 1, 2, 3),
      |trained AS (SELECT s, cid, list(m ORDER BY d) AS cw
      |  FROM mean GROUP BY 1, 2),
      |book AS (SELECT init.s, init.cid,
      |    coalesce(trained.cw, list_transform(init.cw, x -> round(x, 6)))
      |      AS cw
      |  FROM init LEFT JOIN trained
      |    ON init.s = trained.s AND init.cid = trained.cid),
      |codes AS (SELECT vec_id, s, cid FROM (
      |    SELECT sub.vec_id, sub.s, book.cid,
      |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
      |        ORDER BY round(list_inner_product(sub.sv, book.cw)
      |          - list_sum(list_transform(book.cw, x -> x * x)) / 2, 6)
      |          DESC, book.cid DESC) AS rn
      |    FROM sub JOIN book USING (s)) WHERE rn = 1),
      |q AS (SELECT s, sv AS qv FROM sub WHERE vec_id = 7),
      |adc AS (
      |  SELECT c.vec_id, round(sum(list_inner_product(q.qv, book.cw)), 6)
      |      AS score
      |  FROM codes c JOIN book ON c.s = book.s AND c.cid = book.cid
      |  JOIN q ON q.s = c.s
      |  GROUP BY 1)
      |""".stripMargin

  private val annTopKPqOracle: String = pqAdcCtes +
    "SELECT vec_id, score FROM adc ORDER BY score DESC, vec_id LIMIT 10"

  // two-stage: the ADC shortlist (k x overscan = 40) re-scored EXACTLY
  // on the full vectors, then the true top-10
  private val annTopKPqRerankOracle: String = pqAdcCtes +
    """SELECT vec_id, score FROM (
      |  SELECT short.vec_id, round(list_cosine_similarity(e.v,
      |      (SELECT v FROM e WHERE vec_id = 7)), 6) AS score
      |  FROM (SELECT vec_id FROM adc
      |        ORDER BY score DESC, vec_id LIMIT 40) short
      |  JOIN e USING (vec_id))
      |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin

  /** DuckDB twin of the engine's md5-60-bit hash family
    * ([[graft.llm.Sample.hashFrac]] / [[graft.llm.Dedup.md5Hash60]]):
    * the first 15 hex digits of md5(`arg`) rebuilt as a BIGINT. `v`
    * names the lambda variable (pass a fresh one when splicing inside
    * an outer DuckDB lambda that already binds `i`). */
  private def md5Int60Sql(arg: String, v: String = "i"): String =
    s"list_sum(list_transform(range(1, 16), $v -> " +
      s"(strpos('0123456789abcdef', (md5($arg))[$v]) - 1)::BIGINT * " +
      s"(1::BIGINT << ((15 - $v) * 4))))::BIGINT"

  /** [[md5Int60Sql]] as the uniform [0,1) fraction — the
    * [[graft.llm.Sample.hashFrac]] twin. */
  private def md5FracSql(arg: String): String =
    md5Int60Sql(arg) + "::DOUBLE / 1152921504606846976.0"

  // shared by doc_dsir / doc_dsir_resample: hashed word uni+bigram
  // bucket models over target (lang='en') vs raw, per-doc log-ratio sum
  private lazy val dsirCtes: String =
    s"""WITH toks AS (SELECT doc_id, lang,
      |    string_split_regex(trim(text), '\\s+') AS t FROM documents),
      |grams AS (SELECT doc_id, lang,
      |    unnest(t || CASE WHEN len(t) >= 2
      |      THEN list_transform(range(1, len(t)),
      |             i -> t[i] || ' ' || t[i + 1])
      |      ELSE []::VARCHAR[] END) AS g
      |  FROM toks),
      |b AS (SELECT doc_id, lang,
      |    (${md5Int60Sql("g")} % 64) AS bk
      |  FROM grams),
      |raw AS (SELECT bk, count(*)::BIGINT AS cr FROM b GROUP BY 1),
      |tgt AS (SELECT bk, count(*)::BIGINT AS ct FROM b
      |  WHERE lang = 'en' GROUP BY 1),
      |ratio AS (SELECT raw.bk,
      |    ln((coalesce(ct, 0) + 1)::DOUBLE
      |       / ((SELECT sum(ct) FROM tgt) + 64))
      |    - ln((cr + 1)::DOUBLE
      |       / ((SELECT sum(cr) FROM raw) + 64)) AS lr
      |  FROM raw LEFT JOIN tgt USING (bk)),
      |perdoc AS (SELECT doc_id, sum(c * lr) AS w FROM (
      |    SELECT doc_id, bk, count(*)::DOUBLE AS c FROM b
      |    GROUP BY 1, 2) db
      |  JOIN ratio USING (bk) GROUP BY 1)
      |""".stripMargin

  /** The hashed-logistic-regression training loop
    * ([[graft.llm.Text.trainQualityLr]]) unrolled into DuckDB CTEs (the
    * BPE trick): weights live in integer micro-units so every
    * distributed sum is an exact BIGINT and each round is a pure
    * function of the previous round's tables. Round 1 starts from w=0
    * (margin 0, p exactly 0.5); `floor` in the update because SQL
    * `round` is half-away-from-zero while Java's is half-up. The final
    * SELECT is the scoring pass over the last round's weights. */
  private def qualityLrOracle(rounds: Int, buckets: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH y AS (SELECT doc_id,
         |    (CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END)::BIGINT AS y
         |  FROM documents),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |feats AS (SELECT DISTINCT doc_id,
         |    (${md5Int60Sql("t")} % $buckets) AS b
         |  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
         |      '\\s+')) AS t FROM documents)
         |  WHERE t <> ''),
         |g1 AS (SELECT doc_id, (500000 - y)::BIGINT AS g FROM y),
         |w1 AS (SELECT b,
         |    (-floor((0.5 * sum(g)) / (SELECT n FROM nn)))::BIGINT AS wm
         |  FROM feats JOIN g1 USING (doc_id) GROUP BY b),
         |b1 AS (SELECT (-floor((0.5 * sum(g)) / (SELECT n FROM nn)))::BIGINT
         |    AS bm FROM g1),
         |""".stripMargin)
    for (r <- 2 to rounds) {
      val pw = s"w${r - 1}"; val pb = s"b${r - 1}"
      sb.append(
        s"""s$r AS (SELECT f.doc_id, sum(coalesce($pw.wm, 0))::BIGINT AS s
           |  FROM feats f LEFT JOIN $pw USING (b) GROUP BY 1),
           |g$r AS (SELECT y.doc_id,
           |    (round(1000000.0 / (1.0 + exp(-(((SELECT bm FROM $pb)
           |      + coalesce(s$r.s, 0))::DOUBLE / 1000000.0))))::BIGINT - y.y)
           |      AS g
           |  FROM y LEFT JOIN s$r USING (doc_id)),
           |w$r AS (SELECT b, ($pw.wm - floor((0.5 * gs.sg) /
           |      (SELECT n FROM nn)))::BIGINT AS wm
           |  FROM $pw JOIN (SELECT b, sum(g) AS sg FROM feats
           |    JOIN g$r USING (doc_id) GROUP BY b) gs USING (b)),
           |b$r AS (SELECT ((SELECT bm FROM $pb) - floor((0.5 * sum(g)) /
           |    (SELECT n FROM nn)))::BIGINT AS bm FROM g$r),
           |""".stripMargin)
    }
    sb.append(
      s"""sf AS (SELECT f.doc_id, sum(coalesce(w$rounds.wm, 0))::BIGINT AS s
         |  FROM feats f LEFT JOIN w$rounds USING (b) GROUP BY 1)
         |SELECT d.doc_id,
         |  round(1.0 / (1.0 + exp(-(((SELECT bm FROM b$rounds)
         |    + coalesce(sf.s, 0))::DOUBLE / 1000000.0))), 6) AS score,
         |  round(1.0 / (1.0 + exp(-(((SELECT bm FROM b$rounds)
         |    + coalesce(sf.s, 0))::DOUBLE / 1000000.0))), 6) >= 0.5 AS pred
         |FROM documents d LEFT JOIN sf USING (doc_id)
         |ORDER BY 1""".stripMargin)
    sb.toString
  }

  /** The BPE training loop unrolled into a DuckDB CTE chain, one block
    * per merge round: pair counts -> best pair (count desc, pair asc)
    * -> greedy non-overlapping application. The greedy "merge every
    * other match in a run of back-to-back matches" semantics replays
    * via the gaps-and-islands parity trick (i - row_number groups a
    * run; even offsets from the run start merge). MATERIALIZED stops
    * DuckDB from inlining each round into the next (the chain is
    * referenced twice per round — inlined it re-evaluates
    * exponentially). */
  private def bpeCtes(k: Int): String = {
    val head =
      """WITH w AS (SELECT regexp_replace(lower(unnest(
        |    string_split_regex(trim(text), '\s+'))), '[^a-z0-9]', '', 'g')
        |    AS word
        |  FROM documents),
        |v0 AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq,
        |    list_transform(range(1, len(word) + 1), i -> word[i]) AS s
        |  FROM w WHERE len(word) > 0 GROUP BY word)""".stripMargin
    val rounds = (1 to k).map { n =>
      val p = n - 1
      s"""p$n AS (SELECT p.l AS l, p.r AS r, sum(freq)::BIGINT AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(s)),
         |      i -> {'l': s[i], 'r': s[i+1]})) AS p
         |    FROM v$p) GROUP BY 1, 2),
         |b$n AS MATERIALIZED (SELECT l, r, cnt FROM p$n
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |pos$n AS MATERIALIZED (SELECT word, freq, s,
         |  unnest(range(1, len(s) + 1))::BIGINT AS i FROM v$p),
         |m$n AS (SELECT pos$n.word, i FROM pos$n, b$n
         |  WHERE i < len(s) AND s[i] = b$n.l AND s[i+1] = b$n.r),
         |sel$n AS MATERIALIZED (SELECT word, i FROM (
         |    SELECT word, i, grp, min(i) OVER (PARTITION BY word, grp) AS g0
         |    FROM (SELECT word, i,
         |        i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
         |      FROM m$n))
         |  WHERE (i - g0) % 2 = 0),
         |v$n AS MATERIALIZED (SELECT word, freq, list(sym ORDER BY pi) AS s
         |  FROM (
         |    SELECT pos$n.word AS word, freq, pos$n.i AS pi,
         |      CASE WHEN sel.i IS NOT NULL THEN b$n.l || b$n.r
         |           ELSE s[pos$n.i] END AS sym,
         |      CASE WHEN selp.i IS NOT NULL THEN 1 ELSE 0 END AS dropped
         |    FROM pos$n CROSS JOIN b$n
         |      LEFT JOIN sel$n sel
         |        ON sel.word = pos$n.word AND sel.i = pos$n.i
         |      LEFT JOIN sel$n selp
         |        ON selp.word = pos$n.word AND selp.i = pos$n.i - 1)
         |  WHERE dropped = 0 GROUP BY word, freq)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** Unrolled power-iteration twin of [[graft.llm.Embed.powerComponent]]:
    * iteration k computes s_i = Σ v[i]·(v·v_{k-1}) per dimension, then
    * normalizes and rounds to 6 — the same rounded state the Spark side
    * re-broadcasts, so the chain is externally replayable. */
  private def pcaPowerOracle(iters: Int, dim: Int): String = {
    val init = 1.0 / math.sqrt(dim.toDouble)
    val sb = new StringBuilder
    sb ++= s"""WITH e AS MATERIALIZED (
      |  SELECT list_transform(embedding, x -> x::DOUBLE) AS v
      |  FROM embeddings
      |  WHERE list_sum(list_transform(embedding, x -> x::DOUBLE * x)) > 0),
      |g AS (SELECT unnest(generate_series(1, $dim)) AS i),
      |v0 AS (SELECT list_transform(range($dim), x -> $init) AS vl)""".stripMargin
    // MATERIALIZED: each CTE is referenced 2-3x; DuckDB would otherwise
    // INLINE them, re-evaluating every earlier iteration per reference —
    // an exponential replay of the whole chain
    for (k <- 1 to iters) {
      sb ++= s""",
      |it$k AS MATERIALIZED (SELECT g.i,
      |    sum(e.v[g.i] * list_dot_product(e.v, p.vl)) AS s
      |  FROM e, g, v${k - 1} p GROUP BY 1)""".stripMargin
      if (k < iters) sb ++= s""",
      |v$k AS MATERIALIZED (SELECT list(round(s / sqrt(
      |    (SELECT sum(s * s) FROM it$k)), 6) ORDER BY i) AS vl
      |  FROM it$k)""".stripMargin
    }
    sb ++= s"""
      |SELECT (i - 1)::BIGINT AS dim,
      |  round(s / sqrt((SELECT sum(s * s) FROM it$iters)), 6) AS w,
      |  round(sqrt((SELECT sum(s * s) FROM it$iters))
      |    / (SELECT count(*) FROM e), 6) AS eigenvalue
      |FROM it$iters ORDER BY 1""".stripMargin
    sb.toString
  }

  private def bpeTrainOracle(k: Int): String =
    bpeCtes(k) + "\n" + (1 to k).map { n =>
      s"SELECT $n AS merge_rank, l AS lft, r AS rgt, cnt FROM b$n"
    }.mkString("\nUNION ALL ") + "\nORDER BY 1"

  private def bpeEncodeOracle(k: Int): String =
    bpeCtes(k) +
      s""",
         |dw AS (SELECT doc_id, regexp_replace(lower(unnest(
         |    string_split_regex(trim(text), '\\s+'))), '[^a-z0-9]', '', 'g')
         |    AS word
         |  FROM documents)
         |SELECT doc_id, sum(len(v$k.s))::BIGINT AS n_bpe_tokens
         |FROM dw JOIN v$k USING (word) GROUP BY 1 ORDER BY 1""".stripMargin

  // =====================================================================
  private lazy val gated: Seq[(String, Gated)] = Seq(

    // -- Q1 select: range scan, time order (SURVEY §2.1 Q1) --------------
    "ts_select" -> Gated(
      (s, d) => run(
        s"""{"select":"click","range":{"from":"$T0iso","to":"$T1iso"},"order-by":"time"}""")(s, d)
        .orderBy(col("ts"), col("sname"), col("value")),
      Some(s"""SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |FROM events WHERE event_type = 'click' AND ${rangeSql()}
              |ORDER BY 2, 1, 3""".stripMargin)),

    // -- Q1 with the ORDERED timing terminal (VERDICT r13 #6) -------------
    // Same query and oracle as ts_select; the bench times this gate
    // through Bench.forceTimedOrdered (per-partition chain hash), so its
    // wall INCLUDES the terminal sort's range exchange + per-partition
    // sort — the time-order merge cost the reference's materializers pay
    // on every query, measured rather than argued away. Correctness-wise
    // it is ts_select verbatim.
    "ts_select_ordered" -> Gated(
      (s, d) => run(
        s"""{"select":"click","range":{"from":"$T0iso","to":"$T1iso"},"order-by":"time"}""")(s, d)
        .orderBy(col("ts"), col("sname"), col("value")),
      Some(s"""SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |FROM events WHERE event_type = 'click' AND ${rangeSql()}
              |ORDER BY 2, 1, 3""".stripMargin)),

    // -- Q1 backward scan, series order ----------------------------------
    "ts_select_backward" -> Gated(
      (s, d) => run(
        s"""{"select":"click","range":{"from":"$T1iso","to":"$T0iso"},"order-by":"series"}""")(s, d)
        .orderBy(col("sname").asc, col("ts").desc, col("value")),
      Some(s"""SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |FROM events WHERE event_type = 'click' AND ${rangeBwSql()}
              |ORDER BY 1 ASC, 2 DESC, 3""".stripMargin)),

    // -- Q1 + where (tag OR-list) + value filter + limit/offset ----------
    "ts_select_where_filter" -> Gated(
      (s, d) => run(
        s"""{"select":"purchase","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":{"user":["3","7","52","101"]},
           |"filter":{"gt":2.0,"le":50.0},"order-by":"time",
           |"offset":5,"limit":200}""".stripMargin)(s, d)
        .orderBy(col("ts"), col("sname"), col("value")),
      Some(s"""SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |FROM events WHERE event_type = 'purchase' AND ${rangeSql()}
              |  AND user_id IN (3, 7, 52, 101) AND value > 2.0 AND value <= 50.0
              |ORDER BY 2, 1, 3 LIMIT 200 OFFSET 5""".stripMargin)),

    // -- Q1 + enumerate-form where (OR of exact tag combos) --------------
    "ts_select_where_enumerate" -> Gated(
      (s, d) => run(
        s"""{"select":"view","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":[{"user":"5","k":"5"},{"user":"6","k":"6"}],
           |"order-by":"time"}""".stripMargin)(s, d)
        .orderBy(col("ts"), col("sname"), col("value")),
      Some(s"""SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |FROM events WHERE event_type = 'view' AND ${rangeSql()}
              |  AND ((user_id = 5 AND $kSql = 5) OR (user_id = 6 AND $kSql = 6))
              |ORDER BY 2, 1, 3""".stripMargin)),

    // -- Q3 aggregate + group-by-tag (merge series across dropped tag) ---
    "ts_aggregate_group_by" -> Gated(
      (s, d) => run(
        """{"aggregate":{"click":["max","count"]},"group-by-tag":["user"]}""")(s, d)
        .select("sname", "value")
        .orderBy(col("sname"), col("value")),
      Some(s"""WITH g AS (
              |  SELECT $kSql AS k, max(value) AS vmax,
              |         count(value)::DOUBLE AS vcnt
              |  FROM events WHERE event_type = 'click' GROUP BY 1)
              |SELECT sname, value FROM (
              |  SELECT 'click:max k='||k AS sname, vmax AS value FROM g
              |  UNION ALL
              |  SELECT 'click:count k='||k, vcnt FROM g)
              |ORDER BY 1, 2""".stripMargin)),

    // -- Q3 aggregate: whole-history, multi-metric multi-func ------------
    "ts_aggregate" -> Gated(
      (s, d) => run(
        """{"aggregate":{"click":["min","max","count","mean","sum"],"view":["max"]}}""")(s, d)
        .select("sname", "value")
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("sname"), col("value")),
      Some(s"""WITH g AS (
              |  SELECT event_type AS m, $kSql AS k, user_id AS u,
              |         min(value) AS vmin, max(value) AS vmax,
              |         count(value)::DOUBLE AS vcnt, avg(value) AS vmean,
              |         sum(value) AS vsum
              |  FROM events GROUP BY 1, 2, 3)
              |SELECT sname, round(value, 6) AS value FROM (
              |  SELECT m||':min k='||k||' user='||u AS sname, vmin AS value FROM g WHERE m='click'
              |  UNION ALL
              |  SELECT m||':max k='||k||' user='||u, vmax FROM g WHERE m='click'
              |  UNION ALL
              |  SELECT m||':count k='||k||' user='||u, vcnt FROM g WHERE m='click'
              |  UNION ALL
              |  SELECT m||':mean k='||k||' user='||u, vmean FROM g WHERE m='click'
              |  UNION ALL
              |  SELECT m||':sum k='||k||' user='||u, vsum FROM g WHERE m='click'
              |  UNION ALL
              |  SELECT m||':max k='||k||' user='||u, vmax FROM g WHERE m='view')
              |ORDER BY 1, 2""".stripMargin)),

    // -- Q3 aggregate output timestamps: each row carries the per-func ts
    // (reference: operators/aggregate.cpp:270-350 — min->mints, max->maxts,
    // first->_begin, sum/last->_end; *_timestamp rows have payload NONE,
    // i.e. a null value cell) -----------------------------------------------
    "ts_aggregate_output_ts" -> Gated(
      (s, d) => run(
        """{"aggregate":{"click":["min","max","first","last","sum",
          |"first_timestamp","last_timestamp"]}}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("sname")),
      Some(s"""WITH b AS (
              |  SELECT $kSql AS k, user_id AS u, $tsSql AS ts, value
              |  FROM events WHERE event_type = 'click'),
              |w AS (
              |  SELECT *, min(value) OVER p AS wvmin, max(value) OVER p AS wvmax,
              |         min(ts) OVER p AS wtmin, max(ts) OVER p AS wtmax
              |  FROM b WINDOW p AS (PARTITION BY k, u)),
              |g AS (
              |  SELECT k, u,
              |    min(value) AS vmin, max(value) AS vmax, sum(value) AS vsum,
              |    min(ts) AS tfirst, max(ts) AS tlast,
              |    min(ts) FILTER (WHERE value = wvmin) AS tminv,
              |    max(ts) FILTER (WHERE value = wvmax) AS tmaxv,
              |    min(value) FILTER (WHERE ts = wtmin) AS vfirst,
              |    max(value) FILTER (WHERE ts = wtmax) AS vlast
              |  FROM w GROUP BY 1, 2)
              |SELECT 'click:'||f||' k='||k||' user='||u AS sname, ts,
              |       round(value, 6) AS value FROM (
              |  SELECT k, u, 'min' AS f, tminv AS ts, vmin AS value FROM g
              |  UNION ALL SELECT k, u, 'max', tmaxv, vmax FROM g
              |  UNION ALL SELECT k, u, 'first', tfirst, vfirst FROM g
              |  UNION ALL SELECT k, u, 'last', tlast, vlast FROM g
              |  UNION ALL SELECT k, u, 'sum', tlast, vsum FROM g
              |  UNION ALL SELECT k, u, 'first_timestamp', tfirst, NULL FROM g
              |  UNION ALL SELECT k, u, 'last_timestamp', tlast, NULL FROM g)
              |ORDER BY 1""".stripMargin)),

    // -- Q4 group-aggregate: day buckets anchored at query begin ---------
    "ts_group_aggregate" -> Gated(
      (s, d) => run(
        s"""{"group-aggregate":{"metric":"click","step":"1d","func":["mean","count","min","max"]},
           |"range":{"from":"$T0iso","to":"$T1iso"},"order-by":"time"}""".stripMargin)(s, d)
        .withColumn("mean", round(col("mean"), 6))
        .orderBy(col("ts"), col("sname")),
      Some(s"""SELECT 'click:mean|click:count|click:min|click:max k='||$kSql||' user='||user_id AS sname,
              |  $T0 + (($tsSql - $T0) // $Day) * $Day AS ts,
              |  round(avg(value), 6) AS mean, count(value)::DOUBLE AS count,
              |  min(value) AS min, max(value) AS max
              |FROM events WHERE event_type = 'click' AND ${rangeSql()}
              |GROUP BY 1, 2 ORDER BY 2, 1""".stripMargin)),

    // -- Q4 backward: buckets anchored at begin going DOWN ---------------
    // (reference: storage_engine/operators/aggregate.cpp:171-173)
    "ts_group_aggregate_backward" -> Gated(
      (s, d) => run(
        s"""{"group-aggregate":{"metric":"error","step":"1d","func":["mean","count"]},
           |"range":{"from":"$T1iso","to":"$T0iso"},"order-by":"time"}""".stripMargin)(s, d)
        .withColumn("mean", round(col("mean"), 6))
        .orderBy(col("ts").desc, col("sname")),
      Some(s"""SELECT 'error:mean|error:count k='||$kSql||' user='||user_id AS sname,
              |  $T1 - (($T1 - $tsSql) // $Day) * $Day AS ts,
              |  round(avg(value), 6) AS mean, count(value)::DOUBLE AS count
              |FROM events WHERE event_type = 'error' AND ${rangeBwSql()}
              |GROUP BY 1, 2 ORDER BY 2 DESC, 1""".stripMargin)),

    // -- Q4 + filter on aggregate components (HAVING-style) --------------
    "ts_group_aggregate_filter" -> Gated(
      (s, d) => run(
        s"""{"group-aggregate":{"metric":"view","step":"1d","func":["min","max","mean"]},
           |"range":{"from":"$T0iso","to":"$T1iso"},
           |"filter":{"max":{"gt":15.0},"mean":{"gt":5.0},"=":{"require":"all"}},
           |"order-by":"time"}""".stripMargin)(s, d)
        .withColumn("mean", round(col("mean"), 6))
        .orderBy(col("ts"), col("sname")),
      Some(s"""SELECT * FROM (
              |  SELECT 'view:min|view:max|view:mean k='||$kSql||' user='||user_id AS sname,
              |    $T0 + (($tsSql - $T0) // $Day) * $Day AS ts,
              |    min(value) AS min, max(value) AS max, round(avg(value), 6) AS mean
              |  FROM events WHERE event_type = 'view' AND ${rangeSql()}
              |  GROUP BY 1, 2
              |  HAVING max(value) > 15.0 AND avg(value) > 5.0)
              |ORDER BY 2, 1""".stripMargin)),

    // -- candlesticks: OHLC downsample = group-aggregate with
    // first/last/min/max (SURVEY §2.3; reference nbtree.h:218-219
    // candlesticks serve continuous queries from tree internals) ---------
    "ts_candlestick" -> Gated(
      (s, d) => run(
        s"""{"group-aggregate":{"metric":"purchase","step":"1d",
           |"func":["first","last","min","max"]},
           |"range":{"from":"$T0iso","to":"$T1iso"},"order-by":"time"}""".stripMargin)(s, d)
        .orderBy(col("ts"), col("sname")),
      Some(s"""SELECT 'purchase:first|purchase:last|purchase:min|purchase:max k='||$kSql||' user='||user_id AS sname,
              |  $T0 + (($tsSql - $T0) // $Day) * $Day AS ts,
              |  arg_min(value, $tsSql) AS first, arg_max(value, $tsSql) AS last,
              |  min(value) AS min, max(value) AS max
              |FROM events WHERE event_type = 'purchase' AND ${rangeSql()}
              |GROUP BY 1, 2 ORDER BY 2, 1""".stripMargin)),

    // -- Q4 + filter combiner "require": "any" (OR of components) --------
    "ts_group_aggregate_filter_any" -> Gated(
      (s, d) => run(
        s"""{"group-aggregate":{"metric":"view","step":"1d","func":["min","max"]},
           |"range":{"from":"$T0iso","to":"$T1iso"},
           |"filter":{"max":{"gt":90.0},"min":{"lt":1.0},"=":{"require":"any"}},
           |"order-by":"time"}""".stripMargin)(s, d)
        .orderBy(col("ts"), col("sname")),
      Some(s"""SELECT * FROM (
              |  SELECT 'view:min|view:max k='||$kSql||' user='||user_id AS sname,
              |    $T0 + (($tsSql - $T0) // $Day) * $Day AS ts,
              |    min(value) AS min, max(value) AS max
              |  FROM events WHERE event_type = 'view' AND ${rangeSql()}
              |  GROUP BY 1, 2
              |  HAVING max(value) > 90.0 OR min(value) < 1.0)
              |ORDER BY 2, 1""".stripMargin)),

    // -- Q3 aggregate + where clause (test_aggregate_where behavior) -----
    "ts_aggregate_where" -> Gated(
      (s, d) => run(
        """{"aggregate":{"purchase":["sum","count"]},"where":{"user":["1","2","3","4"]}}""")(s, d)
        .select("sname", "value")
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("sname"), col("value")),
      Some(s"""WITH g AS (
              |  SELECT $kSql AS k, user_id AS u,
              |    sum(value) AS vsum, count(value)::DOUBLE AS vcnt
              |  FROM events WHERE event_type = 'purchase' AND user_id IN (1,2,3,4)
              |  GROUP BY 1, 2)
              |SELECT sname, round(value, 6) AS value FROM (
              |  SELECT 'purchase:sum k='||k||' user='||u AS sname, vsum AS value FROM g
              |  UNION ALL
              |  SELECT 'purchase:count k='||k||' user='||u, vcnt FROM g)
              |ORDER BY 1, 2""".stripMargin)),

    // -- Q2 select-events BACKWARD (test_events.py backward behavior) ----
    "ts_select_events_backward" -> Gated(
      (s, d) => runEv(
        s"""{"select-events":"!signup","range":{"from":"$W1iso","to":"$W0iso"}}""")(s, d)
        .orderBy(col("ts").desc, col("sname"), col("event")),
      Some(s"""SELECT '!signup user=' || user_id AS sname, $tsSql AS ts,
              |  props AS event
              |FROM events WHERE event_type = 'signup'
              |  AND ts <= TIMESTAMP '2024-02-01' AND ts > TIMESTAMP '2024-01-01'
              |ORDER BY 2 DESC, 1, 3""".stripMargin)),

    // -- Q5 join: align metrics on exact ts, outer tuple cells -----------
    "ts_join" -> Gated(
      (s, d) => run(
        s"""{"join":["click","view","purchase"],"range":{"from":"$T0iso","to":"$T1iso"}}""")(s, d)
        .orderBy(col("ts"), col("sname")),
      Some(s"""SELECT 'click|view|purchase k='||$kSql||' user='||user_id AS sname,
              |  $tsSql AS ts,
              |  max(value) FILTER (event_type = 'click') AS click,
              |  max(value) FILTER (event_type = 'view') AS view,
              |  max(value) FILTER (event_type = 'purchase') AS purchase
              |FROM events
              |WHERE event_type IN ('click','view','purchase') AND ${rangeSql()}
              |GROUP BY 1, 2 ORDER BY 2, 1""".stripMargin)),

    // -- Q6 group-aggregate-join: bucketed agg then align ----------------
    "ts_group_aggregate_join" -> Gated(
      (s, d) => run(
        s"""{"group-aggregate-join":{"metric":["click","error"],"step":"6h","func":"max"},
           |"range":{"from":"$T0iso","to":"$T1iso"}}""".stripMargin)(s, d)
        .orderBy(col("ts"), col("sname")),
      Some(s"""SELECT 'click|error k='||$kSql||' user='||user_id AS sname,
              |  $T0 + (($tsSql - $T0) // $H6) * $H6 AS ts,
              |  max(value) FILTER (event_type = 'click') AS click,
              |  max(value) FILTER (event_type = 'error') AS error
              |FROM events WHERE event_type IN ('click','error') AND ${rangeSql()}
              |GROUP BY 1, 2 ORDER BY 2, 1""".stripMargin)),

    // -- Q7 meta:names: series listing -----------------------------------
    "ts_meta_names" -> Gated(
      (s, d) => run("""{"select":"meta:names"}""")(s, d).orderBy(col("sname")),
      Some(s"""SELECT DISTINCT ${snameSql("event_type")} AS sname
              |FROM events ORDER BY 1""".stripMargin)),

    // -- Q7 meta:names with where + metric pattern forms -----------------
    "ts_meta_names_where" -> Gated(
      (s, d) => run("""{"select":"meta:names","where":{"user":["7","8"]}}""")(s, d)
        .orderBy(col("sname")),
      Some(s"""SELECT DISTINCT ${snameSql("event_type")} AS sname
              |FROM events WHERE user_id IN (7, 8) ORDER BY 1""".stripMargin)),

    "ts_meta_names_metric" -> Gated(
      (s, d) => run("""{"select":"meta:names:purchase"}""")(s, d)
        .orderBy(col("sname")),
      Some(s"""SELECT DISTINCT ${snameSql("event_type")} AS sname
              |FROM events WHERE event_type = 'purchase' ORDER BY 1""".stripMargin)),

    // -- Q2 select-events: string payloads + body regex ------------------
    "ts_select_events" -> Gated(
      (s, d) => runEv(
        s"""{"select-events":"!signup","range":{"from":"$W0iso","to":"$W1iso"},"filter":"9"}""")(s, d)
        .orderBy(col("ts"), col("sname"), col("event")),
      Some(s"""SELECT '!signup user=' || user_id AS sname, $tsSql AS ts,
              |  props AS event
              |FROM events
              |WHERE event_type = 'signup' AND regexp_matches(props, '9')
              |  AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
              |ORDER BY 2, 1, 3""".stripMargin)),

    // -- group-by-tag: drop listed tags, merge colliding series ----------
    "ts_group_by_tag" -> Gated(
      (s, d) => run(
        s"""{"select":"view","range":{"from":"$T0iso","to":"$T1iso"},
           |"group-by-tag":["user"],"order-by":"time"}""".stripMargin)(s, d)
        .orderBy(col("ts"), col("sname"), col("value")),
      Some(s"""SELECT 'view k=' || $kSql AS sname, $tsSql AS ts, value
              |FROM events WHERE event_type = 'view' AND ${rangeSql()}
              |ORDER BY 2, 1, 3""".stripMargin)),

    // -- pivot-by-tag: keep only listed tags -----------------------------
    "ts_pivot_by_tag" -> Gated(
      (s, d) => run(
        s"""{"select":"error","range":{"from":"$T0iso","to":"$T1iso"},
           |"pivot-by-tag":["k"],"order-by":"series"}""".stripMargin)(s, d)
        .orderBy(col("sname"), col("ts"), col("value")),
      Some(s"""SELECT 'error k=' || $kSql AS sname, $tsSql AS ts, value
              |FROM events WHERE event_type = 'error' AND ${rangeSql()}
              |ORDER BY 1, 2, 3""".stripMargin)),

    // -- apply: rate ------------------------------------------------------
    "ts_apply_rate" -> Gated(
      (s, d) => run(
        s"""{"select":"click","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":{"user":["7","42"]},"apply":[{"name":"rate"}]}""".stripMargin)(s, d)
        .orderBy(col("ts"), col("sname")),
      Some(s"""WITH s AS (
              |  SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |  FROM events WHERE event_type = 'click' AND ${rangeSql()}
              |    AND user_id IN (7, 42))
              |SELECT sname, ts,
              |  (value - coalesce(lag(value) OVER w, 0)) /
              |    ((ts - coalesce(lag(ts) OVER w, 0)) / 1e9) AS value
              |FROM s WINDOW w AS (PARTITION BY sname ORDER BY ts)
              |ORDER BY 2, 1""".stripMargin)),

    // -- apply: rate on a BACKWARD scan (nodes observe scan order) --------
    "ts_apply_rate_backward" -> Gated(
      (s, d) => run(
        s"""{"select":"click","range":{"from":"$T1iso","to":"$T0iso"},
           |"where":{"user":["7","42"]},"apply":[{"name":"rate"}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("ts").desc, col("sname")),
      Some(s"""WITH s AS (
              |  SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |  FROM events WHERE event_type = 'click' AND ${rangeBwSql()}
              |    AND user_id IN (7, 42))
              |SELECT sname, ts,
              |  round((value - coalesce(lag(value) OVER w, 0)) /
              |    ((ts - coalesce(lag(ts) OVER w, 0)) / 1e9), 6) AS value
              |FROM s WINDOW w AS (PARTITION BY sname ORDER BY ts DESC)
              |ORDER BY 2 DESC, 1""".stripMargin)),

    // -- apply: cusum -----------------------------------------------------
    "ts_apply_cusum" -> Gated(
      (s, d) => run(
        s"""{"select":"error","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":{"user":["3","9"]},"apply":[{"name":"cusum"}]}""".stripMargin)(s, d)
        .orderBy(col("ts"), col("sname")),
      Some(s"""WITH s AS (
              |  SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |  FROM events WHERE event_type = 'error' AND ${rangeSql()}
              |    AND user_id IN (3, 9))
              |SELECT sname, ts,
              |  sum(value) OVER (PARTITION BY sname ORDER BY ts
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
              |FROM s ORDER BY 2, 1""".stripMargin)),

    // -- apply: sma (trailing window mean) --------------------------------
    "ts_apply_sma" -> Gated(
      (s, d) => run(
        s"""{"select":"click","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":{"user":["11"]},"apply":[{"name":"sma","window-width":5}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("ts"), col("sname")),
      Some(s"""WITH s AS (
              |  SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |  FROM events WHERE event_type = 'click' AND ${rangeSql()}
              |    AND user_id = 11)
              |SELECT sname, ts,
              |  round(avg(value) OVER (PARTITION BY sname ORDER BY ts
              |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS value
              |FROM s ORDER BY 2, 1""".stripMargin)),

    // -- apply: sma-error (forecast error vs previous window) -------------
    "ts_apply_sma_error" -> Gated(
      (s, d) => run(
        s"""{"select":"click","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":{"user":["11","21"]},"group-by-tag":["k","user"],
           |"apply":[{"name":"sma-error","window-width":3}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("ts"), col("sname")),
      Some(s"""WITH s AS (
              |  SELECT 'click' AS sname, $tsSql AS ts, value
              |  FROM events WHERE event_type = 'click' AND ${rangeSql()}
              |    AND user_id IN (11, 21))
              |SELECT sname, ts,
              |  round(value - coalesce(avg(value) OVER (PARTITION BY sname
              |    ORDER BY ts ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), value), 6)
              |    AS value
              |FROM s ORDER BY 2, 1""".stripMargin)),
    "ts_apply_cma" -> Gated(
      (s, d) => run(
        s"""{"select":"view","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":{"user":["21"]},"apply":[{"name":"cma"}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("ts"), col("sname")),
      Some(s"""WITH s AS (
              |  SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |  FROM events WHERE event_type = 'view' AND ${rangeSql()}
              |    AND user_id = 21)
              |SELECT sname, ts,
              |  round(avg(value) OVER (PARTITION BY sname ORDER BY ts
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value
              |FROM s ORDER BY 2, 1""".stripMargin)),

    // -- apply: ewma — exact warmup-10 state machine, oracled via a
    // DuckDB recursive CTE replicating the reference transition
    // (sliding_window.cpp:15-110). group-by-tag merges tags so the
    // series crosses warmup into the recursive branch.
    "ts_apply_ewma" -> Gated(
      (s, d) => run(
        s"""{"select":"click","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":{"user":["11","21","31","41","51"]},
           |"group-by-tag":["k","user"],
           |"apply":[{"name":"ewma","decay":0.3}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("ts"), col("sname")),
      Some(s"""WITH RECURSIVE src AS (
              |  SELECT 'click' AS sname, $tsSql AS ts, value
              |  FROM events WHERE event_type = 'click' AND ${rangeSql()}
              |    AND user_id IN (11, 21, 31, 41, 51)),
              |base AS (SELECT sname, ts, value,
              |  row_number() OVER (PARTITION BY sname ORDER BY ts) AS rn FROM src),
              |r AS (
              |  SELECT sname, ts, value, rn,
              |    CAST(value AS DOUBLE) AS forecast,
              |    CAST(value AS DOUBLE) AS state, 1 AS w
              |  FROM base WHERE rn = 1
              |  UNION ALL
              |  SELECT b.sname, b.ts, b.value, b.rn,
              |    CASE WHEN r.w <= 10 THEN b.value ELSE r.state END,
              |    CASE WHEN r.w < 10 THEN r.state + b.value
              |         WHEN r.w = 10 THEN b.value*0.3 + ((r.state + b.value)/11.0)*0.7
              |         ELSE b.value*0.3 + r.state*0.7 END,
              |    r.w + 1
              |  FROM r JOIN base b ON b.sname = r.sname AND b.rn = r.rn + 1)
              |SELECT sname, ts, round(forecast, 6) AS value FROM r
              |ORDER BY 2, 1""".stripMargin)),

    // -- apply: ewma-error (x - warmup-10 forecast; same CTE machine) ----
    "ts_apply_ewma_error" -> Gated(
      (s, d) => run(
        s"""{"select":"click","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":{"user":["11","21","31","41","51"]},
           |"group-by-tag":["k","user"],
           |"apply":[{"name":"ewma-error","decay":0.3}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("ts"), col("sname")),
      Some(s"""WITH RECURSIVE src AS (
              |  SELECT 'click' AS sname, $tsSql AS ts, value
              |  FROM events WHERE event_type = 'click' AND ${rangeSql()}
              |    AND user_id IN (11, 21, 31, 41, 51)),
              |base AS (SELECT sname, ts, value,
              |  row_number() OVER (PARTITION BY sname ORDER BY ts) AS rn FROM src),
              |r AS (
              |  SELECT sname, ts, value, rn,
              |    CAST(value AS DOUBLE) AS forecast,
              |    CAST(value AS DOUBLE) AS state, 1 AS w
              |  FROM base WHERE rn = 1
              |  UNION ALL
              |  SELECT b.sname, b.ts, b.value, b.rn,
              |    CASE WHEN r.w <= 10 THEN b.value ELSE r.state END,
              |    CASE WHEN r.w < 10 THEN r.state + b.value
              |         WHEN r.w = 10 THEN b.value*0.3 + ((r.state + b.value)/11.0)*0.7
              |         ELSE b.value*0.3 + r.state*0.7 END,
              |    r.w + 1
              |  FROM r JOIN base b ON b.sname = r.sname AND b.rn = r.rn + 1)
              |SELECT sname, ts, round(value - forecast, 6) AS value FROM r
              |ORDER BY 2, 1""".stripMargin)),

    // -- apply: divide fold over join tuple (1 / (a*b) from unit) --------
    "ts_apply_math_divide" -> Gated(
      (s, d) => run(
        s"""{"join":["click","view"],"range":{"from":"$T0iso","to":"$T1iso"},
           |"apply":[{"name":"divide","ignore_missing":true}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("ts"), col("sname")),
      // IEEE division in the oracle (DuckDB's x/0 is NULL, the engine's —
      // like the reference's C++ doubles — is ±inf/NaN)
      Some(s"""WITH j AS (
              |  SELECT 'click|view k='||$kSql||' user='||user_id AS sname,
              |    $tsSql AS ts,
              |    coalesce(max(value) FILTER (event_type = 'click'), 1.0) AS a,
              |    coalesce(max(value) FILTER (event_type = 'view'), 1.0) AS b
              |  FROM events WHERE event_type IN ('click','view') AND ${rangeSql()}
              |  GROUP BY 1, 2),
              |d1 AS (SELECT sname, ts, b,
              |  CASE WHEN a <> 0 THEN 1.0 / a ELSE 'Infinity'::DOUBLE END AS x
              |  FROM j),
              |d2 AS (SELECT sname, ts,
              |  CASE WHEN b <> 0 THEN x / b
              |       WHEN x = 0 OR isnan(x) THEN 'NaN'::DOUBLE
              |       WHEN x > 0 THEN 'Infinity'::DOUBLE
              |       ELSE '-Infinity'::DOUBLE END AS value
              |  FROM d1)
              |SELECT sname, ts, round(value, 6) AS value FROM d2
              |ORDER BY 2, 1""".stripMargin)),

    // -- apply: top-N by time-weighted sum --------------------------------
    "ts_apply_top" -> Gated(
      (s, d) => run(
        s"""{"select":"view","range":{"from":"$T0iso","to":"$T1iso"},
           |"apply":[{"name":"top","N":5}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6)),
      Some(s"""WITH s AS (
              |  SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |  FROM events WHERE event_type = 'view' AND ${rangeSql()}),
              |c AS (
              |  SELECT sname, ts,
              |    (ts - lag(ts) OVER w) / 1e9 * lag(value) OVER w AS contrib
              |  FROM s WINDOW w AS (PARTITION BY sname ORDER BY ts))
              |SELECT sname, max(ts) AS ts,
              |  round(coalesce(sum(contrib), 0), 6) AS value
              |FROM c GROUP BY 1
              |ORDER BY coalesce(sum(contrib), 0) DESC, 1 ASC LIMIT 5""".stripMargin)),

    // -- apply: math fold over join tuple ---------------------------------
    "ts_apply_math_sum" -> Gated(
      (s, d) => run(
        s"""{"join":["click","view"],"range":{"from":"$T0iso","to":"$T1iso"},
           |"apply":[{"name":"sum","ignore_missing":true}]}""".stripMargin)(s, d)
        .orderBy(col("ts"), col("sname")),
      Some(s"""SELECT 'click|view k='||$kSql||' user='||user_id AS sname,
              |  $tsSql AS ts,
              |  coalesce(max(value) FILTER (event_type = 'click'), 0) +
              |  coalesce(max(value) FILTER (event_type = 'view'), 0) AS value
              |FROM events WHERE event_type IN ('click','view') AND ${rangeSql()}
              |GROUP BY 1, 2 ORDER BY 2, 1""".stripMargin)),

    // -- apply: chained nodes (scale -> cusum -> abs composition) --------
    "ts_apply_chain" -> Gated(
      (s, d) => run(
        s"""{"select":"error","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":{"user":["3","9"]},
           |"apply":[{"name":"scale","weights":[-2.0]},{"name":"cusum"},
           |{"name":"abs"}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("ts"), col("sname")),
      Some(s"""WITH s AS (
              |  SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts,
              |         value * -2.0 AS value
              |  FROM events WHERE event_type = 'error' AND ${rangeSql()}
              |    AND user_id IN (3, 9))
              |SELECT sname, ts,
              |  round(abs(sum(value) OVER (PARTITION BY sname ORDER BY ts
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS value
              |FROM s ORDER BY 2, 1""".stripMargin)),

    // -- apply: eval (expression over join tuple columns) ----------------
    "ts_apply_eval" -> Gated(
      (s, d) => run(
        s"""{"join":["click","view"],"range":{"from":"$T0iso","to":"$T1iso"},
           |"apply":[{"name":"eval","expr":"click / (view + 1) + 0.5 * click"}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("ts"), col("sname")),
      Some(s"""SELECT 'click|view k='||$kSql||' user='||user_id AS sname,
              |  $tsSql AS ts,
              |  round(coalesce(max(value) FILTER (event_type = 'click'), 0) /
              |    (coalesce(max(value) FILTER (event_type = 'view'), 0) + 1) +
              |    0.5 * coalesce(max(value) FILTER (event_type = 'click'), 0), 6) AS value
              |FROM events WHERE event_type IN ('click','view') AND ${rangeSql()}
              |GROUP BY 1, 2 ORDER BY 2, 1""".stripMargin)),

    // -- apply: frequent-items (SpaceSaver exact mode) -------------------
    "ts_apply_frequent_items" -> Gated(
      (s, d) => run(
        s"""{"select":"click","range":{"from":"$T0iso","to":"$T1iso"},
           |"apply":[{"name":"frequent-items","error":0.001,"portion":0.002}]}""".stripMargin)(s, d)
        .orderBy(col("value").desc, col("sname")),
      Some(s"""WITH c AS (
              |  SELECT ${snameSql("event_type")} AS sname, min($tsSql) AS ts,
              |         count(*)::DOUBLE AS value
              |  FROM events WHERE event_type = 'click' AND ${rangeSql()}
              |  GROUP BY 1)
              |SELECT sname, ts, value FROM c
              |WHERE value > 0.002 * (SELECT sum(value) FROM c)
              |ORDER BY 3 DESC, 1""".stripMargin)),

    // -- apply: heavy-hitters (value-weighted SpaceSaver) ----------------
    "ts_apply_heavy_hitters" -> Gated(
      (s, d) => run(
        s"""{"select":"purchase","range":{"from":"$T0iso","to":"$T1iso"},
           |"apply":[{"name":"heavy-hitters","error":0.001,"portion":0.005}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("value").desc, col("sname")),
      Some(s"""WITH c AS (
              |  SELECT ${snameSql("event_type")} AS sname, min($tsSql) AS ts,
              |         sum(value) AS w
              |  FROM events WHERE event_type = 'purchase' AND ${rangeSql()}
              |  GROUP BY 1)
              |SELECT sname, ts, round(w, 6) AS value FROM c
              |WHERE w > 0.005 * (SELECT sum(w) FROM c)
              |ORDER BY w DESC, 1""".stripMargin)),

    // -- apply: frequent-items via the REAL bounded-memory SpaceSaver
    // sketch (SpaceSaverAgg, per-partition summaries + merge). error=1e-6
    // puts M far above the series cardinality, where the reference
    // guarantees sketch == exact — same oracle as the exact gate. --------
    "ts_apply_frequent_items_sketch" -> Gated(
      (s, d) => run(
        s"""{"select":"click","range":{"from":"$T0iso","to":"$T1iso"},
           |"apply":[{"name":"frequent-items","error":0.000001,
           |"portion":0.002,"approx":true}]}""".stripMargin)(s, d)
        .orderBy(col("value").desc, col("sname")),
      Some(s"""WITH c AS (
              |  SELECT ${snameSql("event_type")} AS sname, min($tsSql) AS ts,
              |         count(*)::DOUBLE AS value
              |  FROM events WHERE event_type = 'click' AND ${rangeSql()}
              |  GROUP BY 1)
              |SELECT sname, ts, value FROM c
              |WHERE value > 0.002 * (SELECT sum(value) FROM c)
              |ORDER BY 3 DESC, 1""".stripMargin)),

    // -- apply: heavy-hitters through the sketch path (value-weighted) ---
    "ts_apply_heavy_hitters_sketch" -> Gated(
      (s, d) => run(
        s"""{"select":"purchase","range":{"from":"$T0iso","to":"$T1iso"},
           |"apply":[{"name":"heavy-hitters","error":0.000001,
           |"portion":0.005,"approx":true}]}""".stripMargin)(s, d)
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("value").desc, col("sname")),
      Some(s"""WITH c AS (
              |  SELECT ${snameSql("event_type")} AS sname, min($tsSql) AS ts,
              |         sum(value) AS w
              |  FROM events WHERE event_type = 'purchase' AND ${rangeSql()}
              |  GROUP BY 1)
              |SELECT sname, ts, round(w, 6) AS value FROM c
              |WHERE w > 0.005 * (SELECT sum(w) FROM c)
              |ORDER BY w DESC, 1""".stripMargin)),

    // -- apply: sax — oracled: the window z-norm + Gaussian-cutpoint
    // bucketing + numerosity reduction replicated with DuckDB list
    // functions (alphabet 5 cutpoints are N(0,1) quintiles) -------------
    "ts_apply_sax" -> Gated(
      (s, d) => run(
        s"""{"select":"view","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":{"user":["21","41"]},"group-by-tag":["k"],
           |"apply":[{"name":"sax","alphabet_size":5,"window_width":4}]}""".stripMargin)(s, d)
        .orderBy(col("ts"), col("sname")),
      Some(s"""WITH s AS (
              |  SELECT 'view user=' || user_id AS sname, $tsSql AS ts, value
              |  FROM events WHERE event_type = 'view' AND ${rangeSql()}
              |    AND user_id IN (21, 41)),
              |w AS (SELECT sname, ts,
              |  list(value) OVER (PARTITION BY sname ORDER BY ts
              |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS win,
              |  row_number() OVER (PARTITION BY sname ORDER BY ts) AS rn FROM s),
              |z AS (
              |  SELECT sname, ts, win, list_sum(win) / 4.0 AS mean,
              |    sqrt((4.0 * list_sum(list_transform(win, x -> x*x)) -
              |      list_sum(win)*list_sum(win)) / 12.0) AS sd
              |  FROM w WHERE rn >= 4),
              |words AS (
              |  SELECT sname, ts,
              |    array_to_string(list_transform(
              |      list_transform(win, x -> CASE WHEN sd < 1e-10 THEN x - mean
              |                                    ELSE (x - mean) / sd END),
              |      zz -> CASE WHEN zz < -0.8416212335729143 THEN 'a'
              |                 WHEN zz < -0.2533471031357997 THEN 'b'
              |                 WHEN zz <  0.2533471031357997 THEN 'c'
              |                 WHEN zz <  0.8416212335729143 THEN 'd'
              |                 ELSE 'e' END), '') AS sax
              |  FROM z)
              |SELECT sname, ts, sax FROM (
              |  SELECT sname, ts, sax,
              |         lag(sax) OVER (PARTITION BY sname ORDER BY ts) AS prev
              |  FROM words)
              |WHERE prev IS NULL OR sax != prev
              |ORDER BY 2, 1""".stripMargin)),

    // -- apply: anomaly over bucketed frames — oracled: the EWMA
    // forecaster (seeded with the first observation) via recursive CTE,
    // then the frame-wise rule err > sqrt(sum err^2 over frame) * T ------
    // group-aggregate gives regular per-day frames across series — the
    // shape the detector's frame-wise F2 rule is defined on.
    "ts_apply_anomaly" -> Gated(
      (s, d) => run(
        s"""{"group-aggregate":{"metric":"view","step":"1d","func":"mean"},
           |"range":{"from":"$T0iso","to":"$T1iso"},"group-by-tag":["user"],
           |"apply":[{"name":"anomaly","method":"ewma","alpha":0.4,
           |"threshold":0.2,"approx":false}]}""".stripMargin)(s, d)
        .withColumn("mean", round(col("mean"), 6))
        .orderBy(col("ts"), col("sname")),
      Some(s"""WITH RECURSIVE src AS (
              |  SELECT 'view:mean k=' || $kSql AS sname,
              |    $T0 + (($tsSql - $T0) // $Day) * $Day AS ts,
              |    avg(value) AS value
              |  FROM events WHERE event_type = 'view' AND ${rangeSql()}
              |  GROUP BY 1, 2),
              |base AS (SELECT sname, ts, value,
              |  row_number() OVER (PARTITION BY sname ORDER BY ts) AS rn
              |  FROM src),
              |r AS (
              |  SELECT sname, ts, value, rn,
              |    CAST(value AS DOUBLE) AS forecast,
              |    CAST(value AS DOUBLE) AS state
              |  FROM base WHERE rn = 1
              |  UNION ALL
              |  SELECT b.sname, b.ts, b.value, b.rn,
              |    r.state,
              |    b.value * 0.4 + r.state * 0.6
              |  FROM r JOIN base b ON b.sname = r.sname AND b.rn = r.rn + 1),
              |e AS (SELECT sname, ts, value,
              |        abs(value - forecast) AS err FROM r),
              |f AS (SELECT sname, ts, value, err,
              |        sqrt(sum(err * err) OVER (PARTITION BY ts)) AS f2
              |      FROM e)
              |SELECT sname, ts, round(value, 6) AS mean FROM f
              |WHERE err > f2 * 0.2 ORDER BY 2, 1""".stripMargin)),

    // -- apply: anomaly approx:true — the REAL CountMin sketch pipeline
    // (anomalydetector.cpp CountingSketch): N x K cells of summed values
    // per frame, cell-wise EWMA forecast (recursive CTE twin), error
    // sketch, median-of-rows estimate vs sqrt(estimateF2)*threshold.
    // K = 2^10: hash mod K depends only on the last 3 hex digits of the
    // 15-digit md5 prefix (16^3 = 0 mod 1024), so DuckDB rebuilds it
    // digit-for-digit like the SimHash gate.
    "ts_apply_anomaly_sketch" -> Gated(
      (s, d) => run(
        s"""{"group-aggregate":{"metric":"view","step":"1d","func":"mean"},
           |"range":{"from":"$T0iso","to":"$T1iso"},"group-by-tag":["user"],
           |"apply":[{"name":"anomaly","method":"ewma","alpha":0.4,
           |"threshold":0.2,"approx":true,"bits":10,"hashes":3}]}""".stripMargin)(s, d)
        .withColumn("mean", round(col("mean"), 6))
        .orderBy(col("ts"), col("sname")),
      Some(s"""WITH RECURSIVE src AS (
              |  SELECT 'view:mean k=' || $kSql AS sname,
              |    $T0 + (($tsSql - $T0) // $Day) * $Day AS ts,
              |    avg(value) AS value
              |  FROM events WHERE event_type = 'view' AND ${rangeSql()}
              |  GROUP BY 1, 2),
              |hd AS (SELECT sname, i,
              |    ((strpos('0123456789abcdef', md5(sname || '#' || i)[13]) - 1) * 256 +
              |     (strpos('0123456789abcdef', md5(sname || '#' || i)[14]) - 1) * 16 +
              |     (strpos('0123456789abcdef', md5(sname || '#' || i)[15]) - 1)) % 1024 AS h
              |  FROM (SELECT DISTINCT sname FROM src) CROSS JOIN range(3) t(i)),
              |grid AS (SELECT f.ts, t.i, c.h
              |  FROM (SELECT DISTINCT ts FROM src) f
              |  CROSS JOIN range(3) t(i) CROSS JOIN range(1024) c(h)),
              |sparse AS (SELECT s.ts, hd.i, hd.h, sum(s.value) AS cv
              |  FROM src s JOIN hd ON hd.sname = s.sname GROUP BY 1, 2, 3),
              |dense AS (SELECT g.ts, g.i, g.h, coalesce(sp.cv, 0.0) AS cv,
              |    row_number() OVER (PARTITION BY g.i, g.h ORDER BY g.ts) AS rn
              |  FROM grid g LEFT JOIN sparse sp
              |    ON sp.ts = g.ts AND sp.i = g.i AND sp.h = g.h),
              |rc AS (
              |  SELECT ts, i, h, cv, rn,
              |    CAST(cv AS DOUBLE) AS fc, CAST(cv AS DOUBLE) AS state
              |  FROM dense WHERE rn = 1
              |  UNION ALL
              |  SELECT d.ts, d.i, d.h, d.cv, d.rn,
              |    r.state, d.cv * 0.4 + r.state * 0.6
              |  FROM rc r JOIN dense d ON d.i = r.i AND d.h = r.h AND d.rn = r.rn + 1),
              |e AS (SELECT ts, i, h, abs(cv - fc) AS err FROM rc),
              |rowstats AS (SELECT ts, i, sum(err * err) AS rowsum,
              |    sum(err) AS rowerr FROM e GROUP BY 1, 2),
              |se AS (SELECT ts, rowerr AS sumerr FROM rowstats WHERE i = 0),
              |res AS (SELECT r.ts,
              |    1024 * (1.0/1023) * sqrt(r.rowsum) -
              |      (1.0/1023) * s.sumerr * s.sumerr AS res
              |  FROM rowstats r JOIN se s ON s.ts = r.ts),
              |gates AS (SELECT g.ts,
              |    CASE WHEN g.f2raw < 0 THEN NULL ELSE sqrt(g.f2raw) END * 0.2 AS gate,
              |    s.sumerr
              |  FROM (SELECT ts, (list_sort(list(res)))[2] AS f2raw
              |        FROM res GROUP BY 1) g
              |  JOIN se s ON s.ts = g.ts),
              |est AS (SELECT s.sname, s.ts, s.value,
              |    (list_sort(list((e.err - g.sumerr/1024) / (1.0 - 1.0/1024))))[2] AS med,
              |    any_value(g.gate) AS gate
              |  FROM src s JOIN hd ON hd.sname = s.sname
              |  JOIN e ON e.ts = s.ts AND e.i = hd.i AND e.h = hd.h
              |  JOIN gates g ON g.ts = s.ts
              |  GROUP BY 1, 2, 3)
              |SELECT sname, ts, round(value, 6) AS mean FROM est
              |WHERE med > gate ORDER BY 2, 1""".stripMargin)),

    // -- /api/suggest: metric-names / tag-names / tag-values -------------
    "suggest_metric_names" -> Gated(
      (s, d) => Meta.suggest(TestData.events(s, d),
        """{"select":"metric-names","starts-with":"p"}"""),
      Some("""SELECT DISTINCT event_type AS name FROM events
             |WHERE event_type LIKE 'p%' ORDER BY 1""".stripMargin)),

    "suggest_tag_names" -> Gated(
      (s, d) => Meta.suggest(TestData.events(s, d),
        """{"select":"tag-names","metric":"click"}"""),
      Some("""SELECT 'k' AS name WHERE EXISTS (SELECT 1 FROM events WHERE event_type='click')
             |UNION ALL
             |SELECT 'user' WHERE EXISTS (SELECT 1 FROM events WHERE event_type='click')
             |ORDER BY 1""".stripMargin)),

    "suggest_tag_values" -> Gated(
      (s, d) => Meta.suggest(TestData.events(s, d),
        """{"select":"tag-values","metric":"click","tag":"user","starts-with":"10"}"""),
      Some("""SELECT DISTINCT user_id::VARCHAR AS name FROM events
             |WHERE event_type = 'click' AND user_id::VARCHAR LIKE '10%'
             |ORDER BY 1""".stripMargin)),

    // -- /api/search: series by metric + where ---------------------------
    "search_series" -> Gated(
      (s, d) => Meta.searchJson(TestData.events(s, d),
        """{"select":"view","where":{"user":["1","2","3","4","5"]}}"""),
      Some(s"""SELECT DISTINCT ${snameSql("'view'")} AS sname FROM events
              |WHERE event_type = 'view' AND user_id IN (1,2,3,4,5)
              |ORDER BY 1""".stripMargin)),

    // -- /api/search: regex over canonical series names ------------------
    // reference PlainSeriesMatcher::regex_match (seriesparser.h:149-201):
    // the pattern runs over the flat series-name table
    "search_series_regex" -> Gated(
      (s, d) => Meta.searchJson(TestData.events(s, d),
        """{"regex":"^view k=[0-3] user=1[0-9]$"}"""),
      Some(s"""SELECT DISTINCT sname FROM
              |  (SELECT ${snameSql("event_type")} AS sname FROM events)
              |WHERE regexp_matches(sname, '^view k=[0-3] user=1[0-9]$$')
              |ORDER BY 1""".stripMargin)),

    // -- output: reference CSV row format (ISO ts + %.17g doubles) -------
    "output_csv" -> Gated(
      (s, d) => OutputFormat.csv(Planner.plan(QueryJson.parse(
        s"""{"select":"purchase","range":{"from":"$T0iso","to":"$T1iso"},
           |"where":{"user":["3","7"]},"order-by":"time"}""".stripMargin),
        TestData.events(s, d)))
        .toDF("line").orderBy(col("line")),
      Some(s"""SELECT ${snameSql("event_type")} || ',' ||
              |  strftime(ts, '%Y%m%dT%H%M%S') || '.' ||
              |  lpad(($tsSql % 1000000000)::VARCHAR, 9, '0') || ',' ||
              |  printf('%.17g', value) AS line
              |FROM events WHERE event_type = 'purchase' AND ${rangeSql()}
              |  AND user_id IN (3, 7)
              |ORDER BY 1""".stripMargin)),

    // ====================================================================
    // LLM training-data pipeline operators over documents/embeddings
    // ====================================================================

    // -- text analysis: token/char/stopword stats + fingerprint ----------
    "doc_token_stats" -> Gated(
      (s, d) => Text.docStats(TestData.table(s, d, "documents"))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          col("stopword_ratio"), col("fingerprint"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, length(text) AS n_chars,
              |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
              |  round(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              |      x -> list_contains([${Text.EnStopwords.map("'" + _ + "'").mkString(",")}], x)))::DOUBLE
              |    / greatest(len(string_split_regex(trim(lower(text)), '\\s+'))::DOUBLE, 1.0), 6)
              |    AS stopword_ratio,
              |  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
              |FROM documents ORDER BY 1""".stripMargin)),

    // -- text analysis: context-window chunking (token windows) ----------
    "doc_chunks" -> Gated(
      (s, d) => Text.chunk(TestData.table(s, d, "documents"),
        maxTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_id")),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
             |  FROM documents),
             |c AS (SELECT doc_id, t,
             |        greatest(cast(ceil((len(t) - 16) / 48.0) AS INT), 1) AS nc
             |      FROM toks),
             |u AS (SELECT doc_id, t, unnest(range(0, nc)) AS i FROM c)
             |SELECT doc_id, i AS chunk_id,
             |  array_to_string(t[i*48+1 : least(i*48+64, len(t))], ' ') AS chunk_text,
             |  least(i*48+64, len(t)) - i*48 AS n_chunk_tokens
             |FROM u ORDER BY 1, 2""".stripMargin)),

    // -- text analysis: winnowing (MOSS) fingerprints — oracled under the
    // md5-based 60-bit gram hash (xxhash64 has no DuckDB twin); gram
    // construction, window-min selection, and per-doc dedup replicated
    // in SQL. Empty-gram docs yield no rows on either side. ---------------
    "doc_winnow" -> Gated(
      (s, d) => TestData.table(s, d, "documents")
        .select(col("doc_id"),
          explode(Text.winnow(col("text"), k = 5, w = 4,
            hashFn = Dedup.md5Hash60)).as("fp"))
        .filter(col("fp").isNotNull)
        .orderBy(col("doc_id"), col("fp")),
      Some(("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, list_transform(
             |    list_transform(range(0, greatest(len(t) - 4, 0)),
             |      i -> array_to_string(t[i+1 : i+5], ' ')),
             |    g -> """ + md5Int60Sql("g", "j") + """) AS gh
             |  FROM toks),
             |win AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    range(0, greatest(len(gh) - 3, 1)),
             |    i -> list_min(gh[i+1 : i+4]))) AS fps
             |  FROM grams)
             |SELECT doc_id, fp FROM (SELECT doc_id, unnest(fps) AS fp FROM win)
             |WHERE fp IS NOT NULL ORDER BY 1, 2""").stripMargin)),

    // -- text analysis: PII counts (regexes shared Java/RE2 syntax) ------
    "doc_pii" -> Gated(
      (s, d) => Text.piiStats(TestData.table(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  len(regexp_extract_all(text, '${Text.EmailRe}')) AS n_emails,
              |  len(regexp_extract_all(text, '${Text.Ipv4Re}')) AS n_ipv4,
              |  len(regexp_extract_all(text, '${Text.PhoneRe}')) AS n_phones
              |FROM documents ORDER BY 1""".stripMargin)),

    // -- text analysis: composite quality score (oracled arithmetic) -----
    "doc_quality" -> Gated(
      (s, d) => Text.docStats(TestData.table(s, d, "documents"))
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id")),
      Some(s"""WITH f AS (
              |  SELECT doc_id,
              |    len(string_split_regex(trim(text), '\\s+'))::DOUBLE AS ntok,
              |    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              |      x -> list_contains([${Text.EnStopwords.map("'" + _ + "'").mkString(",")}], x)))::DOUBLE AS nstop,
              |    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
              |      / greatest(length(text)::DOUBLE, 1.0) AS punct
              |  FROM documents)
              |SELECT doc_id, round(
              |  least(ntok / 50.0, 1.0) * 0.4 +
              |  least(nstop / greatest(ntok, 1.0) * 5.0, 1.0) * 0.4 +
              |  greatest(0.0, 1.0 - punct * 4.0) * 0.2, 6) AS quality
              |FROM f ORDER BY 1""".stripMargin)),

    // -- text analysis: language-ID — oracled: the same stopword-profile
    // argmax + CJK short-circuit replicated in SQL (struct list_sort[-1]
    // = Spark's greatest(struct(score, lang)), ties and all) -------------
    "doc_langid" -> Gated(
      (s, d) => Text.docStats(TestData.table(s, d, "documents"))
        .select(col("doc_id"), col("lang_pred"))
        .orderBy(col("doc_id")),
      Some {
        val hits = Text.Profiles.map { case (lang, words) =>
          s"""{'score': len(list_filter(toks, t -> list_contains(
             |  [${words.map("'" + _.replace("'", "''") + "'").mkString(",")}], t)))::DOUBLE
             |  / greatest(len(toks)::DOUBLE, 1.0), 'lang': '$lang'}""".stripMargin
        }.mkString(",\n")
        s"""WITH f AS (
           |  SELECT doc_id, text,
           |    string_split_regex(trim(lower(text)), '\\s+') AS toks
           |  FROM documents),
           |b AS (
           |  SELECT doc_id,
           |    length(regexp_replace(text, '[^\\p{Han}]', '', 'g'))::DOUBLE /
           |      greatest(length(text)::DOUBLE, 1.0) AS cjk,
           |    (list_sort([
           |$hits
           |    ]))[-1] AS best
           |  FROM f)
           |SELECT doc_id, CASE WHEN cjk > 0.3 THEN 'zh'
           |  WHEN best.score > 0.05 THEN best.lang ELSE 'und' END AS lang_pred
           |FROM b ORDER BY 1""".stripMargin
      }),

    // -- dedup: exact content-hash groups --------------------------------
    "doc_dedup_exact" -> Gated(
      (s, d) => Dedup.exact(TestData.table(s, d, "documents"))
        .orderBy(col("fingerprint")),
      Some("""SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
             |  count(*) AS n_docs, min(doc_id) AS keep_doc_id
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- dedup: span-level duplicates (shared winnowing fingerprints) ----
    // winnowing guarantees a shared fingerprint per shared >= w+k-1-token
    // run, so the pair count thresholds VERBATIM-shared text
    "doc_shared_spans" -> Gated(
      (s, d) => Dedup.sharedSpanPairs(TestData.table(s, d, "documents"),
        minShared = 3, hashFn = Dedup.md5Hash60)
        .orderBy(col("a"), col("b")),
      Some(("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, list_transform(
             |    list_transform(range(0, greatest(len(t) - 4, 0)),
             |      i -> array_to_string(t[i+1 : i+5], ' ')),
             |    g -> """ + md5Int60Sql("g", "j") + """) AS gh
             |  FROM toks),
             |win AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    range(0, greatest(len(gh) - 3, 1)),
             |    i -> list_min(gh[i+1 : i+4]))) AS fps
             |  FROM grams),
             |fp AS (SELECT doc_id, fp FROM
             |  (SELECT doc_id, unnest(fps) AS fp FROM win) WHERE fp IS NOT NULL),
             |hv AS (SELECT fp FROM
             |  (SELECT fp, count(*) AS c FROM fp GROUP BY 1) WHERE c > 1000),
             |kept AS (SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM hv))
             |SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS shared_fps
             |FROM kept l JOIN kept r ON l.fp = r.fp AND l.doc_id < r.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY 1, 2""").stripMargin)),

    // -- quality: self-trained char-bigram LM perplexity (CCNet shape) ---
    "doc_lm_score" -> Gated(
      (s, d) => Text.charBigramLm(TestData.table(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
             |    regexp_replace(lower(text), '[^a-z0-9 ]', '_', 'g') AS s
             |  FROM documents),
             |bg AS (SELECT doc_id, unnest(CASE WHEN length(s) >= 2
             |    THEN list_transform(range(1, length(s)), i -> substr(s, i, 2))
             |    ELSE [] END) AS b FROM t),
             |m AS (SELECT b, count(*) AS cbg FROM bg GROUP BY 1),
             |cx AS (SELECT substr(b, 1, 1) AS c, sum(cbg) AS cctx
             |  FROM m GROUP BY 1),
             |a AS (SELECT bg.doc_id, avg(ln((m.cbg + 1)::DOUBLE
             |    / (cx.cctx + 38))) AS alp
             |  FROM bg JOIN m USING (b)
             |  JOIN cx ON cx.c = substr(bg.b, 1, 1)
             |  GROUP BY 1)
             |SELECT d.doc_id, round(coalesce(a.alp, 0.0), 6) AS avg_logp,
             |  round(exp(-coalesce(a.alp, 0.0)), 6) AS perplexity
             |FROM documents d LEFT JOIN a USING (doc_id)
             |ORDER BY 1""".stripMargin)),

    // -- curation: DSIR importance weights (target = English docs) -------
    // Hashed word uni+bigram models (64 buckets, md5-hash twin) over
    // target vs raw; weight = Σ count·(ln p_tgt − ln p_raw). The oracle
    // rebuilds grams, buckets, both smoothed models, and the per-doc sum.
    "doc_dsir" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        Text.dsirWeights(docs, docs.filter(col("lang") === "en"),
            buckets = 64)
          .orderBy(col("doc_id"))
      },
      Some(dsirCtes +
        "SELECT doc_id, round(w, 6) AS weight FROM perdoc ORDER BY 1")),

    // -- curation: Gumbel top-k importance resampling --------------------
    // The DSIR selection step: sampling 50 docs with probability
    // ∝ exp(weight), without replacement, is exactly the 50 largest
    // weight + Gumbel(0,1) keys; the noise comes from each row's own
    // hash fraction (-ln(-ln u)), so the draw replays in SQL.
    "doc_dsir_resample" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val w = Text.dsirWeights(docs, docs.filter(col("lang") === "en"),
          buckets = 64)
        Sample.gumbelTopK(w, col("weight"), k = 50, seed = "g1")
          .orderBy(col("gumbel_key").desc, col("doc_id"))
      },
      Some(dsirCtes +
        s"""SELECT doc_id, weight,
          |  round(weight + (-ln(-ln(frac))), 6) AS gumbel_key
          |FROM (SELECT doc_id, round(w, 6) AS weight,
          |    ${md5FracSql("doc_id::VARCHAR || 'g1'")} AS frac
          |  FROM perdoc)
          |ORDER BY 3 DESC, 1 LIMIT 50""".stripMargin)),

    // -- quality: Gopher-style intra-document repetition signals ---------
    "doc_repetition" -> Gated(
      (s, d) => Text.repetitionStats(TestData.table(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, length(text)::DOUBLE AS chars,
             |    string_split_regex(trim(lower(text)), '\s+') AS tk
             |  FROM documents),
             |g2 AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
             |    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
             |    ELSE [] END) AS g FROM t),
             |g3 AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
             |    THEN list_transform(range(1, len(tk) - 1),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
             |    ELSE [] END) AS g FROM t),
             |top2 AS (SELECT doc_id, (n * length(g))::DOUBLE AS topchars FROM
             |  (SELECT doc_id, g, n, row_number() OVER
             |     (PARTITION BY doc_id ORDER BY n DESC, g ASC) AS rn
             |   FROM (SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2))
             |  WHERE rn = 1),
             |d3 AS (SELECT doc_id, sum(n * length(g))::DOUBLE AS dupchars FROM
             |  (SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY 1, 2)
             |  WHERE n >= 2 GROUP BY 1),
             |lg AS (SELECT doc_id, trim(lower(l)) AS k, count(*) AS n,
             |    sum(length(l))::DOUBLE AS c
             |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
             |        FROM documents)
             |  GROUP BY 1, 2),
             |lf AS (SELECT doc_id,
             |    1.0 - count(*)::DOUBLE / sum(n) AS dlf,
             |    sum(CASE WHEN n >= 2 THEN c ELSE 0.0 END)
             |      / greatest(sum(c), 1.0) AS dlcf
             |  FROM lg GROUP BY 1)
             |SELECT t.doc_id,
             |  round(coalesce(lf.dlf, 0.0), 6) AS dup_line_frac,
             |  round(coalesce(lf.dlcf, 0.0), 6) AS dup_line_char_frac,
             |  round(coalesce(top2.topchars, 0.0) / greatest(t.chars, 1.0), 6)
             |    AS top_bigram_char_frac,
             |  round(coalesce(d3.dupchars, 0.0) / greatest(t.chars, 1.0), 6)
             |    AS dup_trigram_char_frac
             |FROM t LEFT JOIN lf USING (doc_id)
             |LEFT JOIN top2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
             |ORDER BY 1""".stripMargin)),

    // -- cleaning: cross-document repeated-line (boilerplate) removal ----
    // The synthetic corpus has no organic boilerplate, so the gate plants
    // it (the sparse-LSH-gate trick): every doc gets a shared header and
    // footer line, every 5th doc a unique extra line. The op must strip
    // exactly the planted boilerplate (occurring in > 2 docs) from every
    // document, keep unique lines, and preserve line order — any
    // rebuild-order or normalization slip breaks the constructive oracle.
    "doc_drop_boilerplate" -> Gated(
      (s, d) => Text.dropRepeatedLines(
        TestData.table(s, d, "documents").select(col("doc_id"),
          concat(
            lit("Subscribe To Our Newsletter\n"), col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit("\nunique line "), col("doc_id"))).otherwise(lit("")),
            lit("\nall rights reserved")).as("text")),
        maxDocs = 2)
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  text || CASE WHEN doc_id % 5 = 0
             |    THEN chr(10) || 'unique line ' || doc_id ELSE '' END AS text
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // -- curation: C4 page + line cleaning -------------------------------
    // The corpus text is single-line, so the gate synthesizes the page
    // structure C4 discriminates on (identically in the oracle): a kept
    // lead line (first 5 words + '.'), a javascript line, a 2-word line,
    // an unpunctuated line, a second kept line for doc_id % 3 != 0, and
    // page-killing lorem-ipsum (% 7 == 0) / curly-brace (% 11 == 0)
    // tails. Survivors: % 3 != 0 && % 7 != 0 && % 11 != 0, text = the
    // two kept lines.
    "doc_c4_filters" -> Gated(
      (s, d) => {
        val w = split(col("text"), " ")
        val synth = TestData.table(s, d, "documents").select(col("doc_id"),
          concat(
            concat_ws(" ", slice(w, 1, 5)), lit("."),
            lit("\nEnable javascript to view this content."),
            lit("\nclick here"),
            lit("\n"), concat_ws(" ", slice(w, 6, 5)),
            when(col("doc_id") % 3 =!= 0,
              concat(lit("\nthis line stays number "),
                col("doc_id").cast("string"), lit("."))).otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              lit("\nLorem Ipsum dolor sit amet.")).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              lit("\nfunction f() { return 1; }")).otherwise(lit(""))
          ).as("text"))
        Text.c4Clean(synth, minLineWords = 3, minLines = 2)
          .orderBy(col("doc_id"))
      },
      Some("""WITH synth AS (
             |  SELECT doc_id,
             |    array_to_string(string_split(text, ' ')[1:5], ' ') || '.' ||
             |    chr(10) || 'Enable javascript to view this content.' ||
             |    chr(10) || 'click here' ||
             |    chr(10) || array_to_string(string_split(text, ' ')[6:10], ' ') ||
             |    CASE WHEN doc_id % 3 <> 0 THEN chr(10) ||
             |      'this line stays number ' || doc_id || '.' ELSE '' END ||
             |    CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
             |      'Lorem Ipsum dolor sit amet.' ELSE '' END ||
             |    CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
             |      'function f() { return 1; }' ELSE '' END AS text
             |  FROM documents),
             |base AS (SELECT * FROM synth
             |  WHERE NOT contains(lower(text), 'lorem ipsum')
             |    AND NOT contains(text, '{')),
             |lines AS (SELECT doc_id,
             |    list_filter(string_split(text, chr(10)), l ->
             |      regexp_matches(trim(l), '[.!?"]$')
             |      AND len(string_split_regex(trim(l), '\s+')) >= 3
             |      AND NOT contains(lower(l), 'javascript')) AS keep
             |  FROM base)
             |SELECT doc_id, array_to_string(keep, chr(10)) AS text
             |FROM lines WHERE len(keep) >= 2 ORDER BY doc_id""".stripMargin)),

    // -- dedup: canonical-URL dedup --------------------------------------
    // URLs synthesized (identically both sides) in four per-doc variants
    // of one logical page: UPPERCASE scheme + www. + trailing slash,
    // utm-only query, mixed query (utm dropped, id kept), #fragment.
    // canonicalUrl must collapse variants 0/1/3 of a (source, doc_id%25)
    // page to one key, variant 2 keeps its ?id=. Keep-best: longest
    // n_chars, ties to smallest doc_id.
    "doc_url_dedup" -> Gated(
      (s, d) => {
        val v = col("doc_id") % 4
        val url = concat(
          when(v === 0, lit("HTTPS://WWW.")).otherwise(lit("https://")),
          lower(col("source")), lit(".example.com/page/"),
          (col("doc_id") % 25).cast("string"),
          when(v === 0, lit("/")).otherwise(lit("")),
          when(v === 1, lit("?utm_source=feed&utm_campaign=x"))
            .otherwise(lit("")),
          when(v === 2, concat(lit("?id="), (col("doc_id") % 3).cast("string"),
            lit("&utm_medium=em"))).otherwise(lit("")),
          when(v === 3, lit("#section-2")).otherwise(lit("")))
        Dedup.urlDedup(TestData.table(s, d, "documents")
          .select(col("doc_id"), col("n_chars"), url.as("url")))
          .orderBy(col("canonical_url"))
      },
      Some("""WITH u AS (
             |  SELECT doc_id, n_chars,
             |    CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.'
             |      ELSE 'https://' END ||
             |    lower(source) || '.example.com/page/' || (doc_id % 25) ||
             |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
             |    CASE WHEN doc_id % 4 = 1
             |      THEN '?utm_source=feed&utm_campaign=x' ELSE '' END ||
             |    CASE WHEN doc_id % 4 = 2
             |      THEN '?id=' || (doc_id % 3) || '&utm_medium=em'
             |      ELSE '' END ||
             |    CASE WHEN doc_id % 4 = 3 THEN '#section-2' ELSE '' END AS url
             |  FROM documents),
             |nf AS (SELECT doc_id, n_chars,
             |    regexp_replace(url, '#.*$', '') AS url FROM u),
             |c AS (SELECT doc_id, n_chars,
             |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             |      lower(regexp_extract(url, '^([a-zA-Z]+://[^/?]*)', 1)) ||
             |        regexp_replace(url, '^[a-zA-Z]+://[^/?]*', ''),
             |      '^([a-z]+://)www\.', '\1'),
             |      '([?&])(utm_[^&#]*&)+', '\1', 'g'),
             |      '[?&]utm_[^&#]*$', ''),
             |      '/$', '') AS canonical_url
             |  FROM nf),
             |r AS (SELECT canonical_url, doc_id,
             |    count(*) OVER (PARTITION BY canonical_url) AS n_docs,
             |    row_number() OVER (PARTITION BY canonical_url
             |      ORDER BY n_chars DESC, doc_id ASC) AS rn
             |  FROM c)
             |SELECT canonical_url, n_docs, doc_id AS keep_doc_id
             |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin)),

    // -- dedup: exact substring dedup (span removal, Lee et al. '22) -----
    // Shared k-token boilerplate is synthesized identically both sides:
    // every doc = its first 8 words, plus a newsletter sentence (% 2 ==
    // 0) and/or a legal sentence (% 5 == 0). trimDuplicateSpans must keep
    // only the globally-first occurrence of every duplicated 6-token
    // window and cut the rest; the oracle recomputes the same semantics
    // from raw SQL (window rn over gram, positional NOT EXISTS cut).
    "doc_substring_dedup" -> Gated(
      (s, d) => Dedup.trimDuplicateSpans(spanSynthDf(s, d), k = 6)
        .orderBy(col("doc_id")),
      Some(s"""WITH $spanSynthCtes,
             |m AS MATERIALIZED (SELECT doc_id, start,
             |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, start)
             |      AS rn
             |  FROM w),
             |cuts AS MATERIALIZED (
             |  SELECT doc_id, start FROM m WHERE rn > 1),
             |tgt AS MATERIALIZED (SELECT * FROM t)
             |$spanRebuildSql""".stripMargin)),

    // -- dedup: INCREMENTAL substring dedup against a stored span index --
    // Index = distinct 6-token window hashes of the % 4 != 0 docs
    // (writeSpanIndex — the indexed corpus is tokenized ONCE, ever);
    // the % 4 == 0 batch is trimmed against it: any window present in
    // the index is cut (its surviving copy lives in the corpus), plus
    // within-batch first-copy-wins. The oracle re-derives both rules
    // from raw SQL over the same synthesized pages.
    "doc_substring_incremental" -> Gated(
      (s, d) => {
        val synth = spanSynthDf(s, d)
        val tmp = TestData.scratch("graft_spanidx", d)
        Dedup.writeSpanIndex(synth.filter(col("doc_id") % 4 =!= 0), tmp,
          k = 6)
        Dedup.trimAgainstIndex(synth.filter(col("doc_id") % 4 === 0), tmp)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $spanSynthCtes,
             |wi AS MATERIALIZED (
             |  SELECT DISTINCT gram FROM w WHERE doc_id % 4 <> 0),
             |wb AS MATERIALIZED (SELECT * FROM w WHERE doc_id % 4 = 0),
             |cuts AS MATERIALIZED (
             |  SELECT doc_id, start FROM wb JOIN wi USING (gram)
             |  UNION
             |  SELECT doc_id, start FROM (
             |    SELECT doc_id, start, row_number() OVER (
             |      PARTITION BY gram ORDER BY doc_id, start) AS rn FROM wb)
             |  WHERE rn > 1),
             |tgt AS MATERIALIZED (SELECT * FROM t WHERE doc_id % 4 = 0)
             |$spanRebuildSql""".stripMargin)),

    // -- curation: per-registered-domain corpus report --------------------
    // URLs synthesized identically both sides: optional news./blog.
    // subdomain (doc_id % 3), host from `source`, .com or .co.uk suffix
    // (% 4). The ORACLE derives the expected registered domain
    // analytically (source + suffix — never running the engine's
    // extraction), so the gate proves urlHost+registeredDomain collapse
    // subdomains and respect compound suffixes.
    "doc_domain_report" -> Gated(
      (s, d) => {
        val url = concat(lit("https://"),
          when(col("doc_id") % 3 === 0, lit("news."))
            .when(col("doc_id") % 3 === 1, lit("blog."))
            .otherwise(lit("")),
          lower(col("source")),
          when(col("doc_id") % 4 === 0, lit(".co.uk"))
            .otherwise(lit(".com")),
          lit("/p/"), col("doc_id").cast("string"))
        Text.domainReport(TestData.table(s, d, "documents")
          .select(col("doc_id"), col("text"), url.as("url")))
          .orderBy(col("domain"))
      },
      Some("""SELECT lower(source) ||
             |    CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END
             |    AS domain,
             |  count(*) AS n_docs, sum(length(text)) AS n_chars,
             |  round(count(*) / (SELECT count(*) FROM documents)::DOUBLE, 6)
             |    AS share
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- curation: encoding-noise (mojibake) report ------------------------
    // UTF-8 damage synthesized identically both sides: U+FFFD pairs
    // (% 4), double-decoded 'café'/'straße' digraphs (% 5 — the 'ß'
    // case's follower is a C1 byte, counted as C1 not mojibake), bare
    // C1 NEL bytes (% 7). The oracle counts with RE2 classes over the
    // same construction.
    "doc_encoding_noise" -> Gated(
      (s, d) => {
        val noisy = TestData.table(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 4 === 0, lit("\uFFFD\uFFFD"))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              lit(" caf\u00C3\u00A9 stra\u00C3\u009Fe"))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit("\u0085line\u0085"))
              .otherwise(lit(""))).as("text"))
        Text.encodingNoise(noisy).orderBy(col("doc_id"))
      },
      Some("""WITH noisy AS (SELECT doc_id, text ||
             |    CASE WHEN doc_id % 4 = 0
             |      THEN chr(65533) || chr(65533) ELSE '' END ||
             |    CASE WHEN doc_id % 5 = 0 THEN ' caf' || chr(195) ||
             |      chr(169) || ' stra' || chr(195) || chr(159) || 'e'
             |      ELSE '' END ||
             |    CASE WHEN doc_id % 7 = 0
             |      THEN chr(133) || 'line' || chr(133) ELSE '' END AS text
             |  FROM documents),
             |c AS (SELECT doc_id, length(text) AS n_chars,
             |    len(regexp_extract_all(text, chr(65533)))::BIGINT
             |      AS n_replacement,
             |    len(regexp_extract_all(text, '[\x{0080}-\x{009F}]'))
             |      ::BIGINT AS n_c1,
             |    len(regexp_extract_all(text,
             |      '[\x{00C2}\x{00C3}][\x{00A0}-\x{00BF}]'))::BIGINT
             |      AS n_mojibake
             |  FROM noisy)
             |SELECT doc_id, n_chars, n_replacement, n_c1, n_mojibake,
             |  round((n_replacement + n_c1 + n_mojibake)::DOUBLE /
             |    greatest(n_chars, 1)::DOUBLE, 6) AS noise_rate
             |FROM c ORDER BY doc_id""".stripMargin)),

    // -- curation: classifier calibration threshold sweep -----------------
    // Deterministic pseudo-score ((doc_id*37 % 100)/100) + pseudo-label
    // (doc_id % 3 == 0), identical both sides: the unit under test is
    // the confusion/precision/recall/F1 arithmetic, with every ratio a
    // single rounded division of exact integer counts.
    "doc_calibration" -> Gated(
      (s, d) => Text.calibrationReport(
        TestData.table(s, d, "documents").select(
          ((col("doc_id") * 37) % 100).cast("double").divide(lit(100.0))
            .as("score"),
          (col("doc_id") % 3 === 0).as("label")),
        "label", thresholds = Seq(0.25, 0.5, 0.75))
        .orderBy(col("threshold")),
      Some("""SELECT threshold, tp, fp, fn, tn,
             |  round(tp / greatest(tp + fp, 1)::DOUBLE, 6) AS precision,
             |  round(tp / greatest(tp + fn, 1)::DOUBLE, 6) AS recall,
             |  round(tp * 2 / greatest(tp * 2 + fp + fn, 1)::DOUBLE, 6)
             |    AS f1
             |FROM (
             |  SELECT threshold,
             |    sum(CASE WHEN sc >= threshold AND y THEN 1 ELSE 0 END)
             |      ::BIGINT AS tp,
             |    sum(CASE WHEN sc >= threshold AND NOT y THEN 1 ELSE 0 END)
             |      ::BIGINT AS fp,
             |    sum(CASE WHEN sc < threshold AND y THEN 1 ELSE 0 END)
             |      ::BIGINT AS fn,
             |    sum(CASE WHEN sc < threshold AND NOT y THEN 1 ELSE 0 END)
             |      ::BIGINT AS tn
             |  FROM (SELECT ((doc_id * 37) % 100)::DOUBLE / 100.0::DOUBLE
             |      AS sc, (doc_id % 3 = 0) AS y FROM documents),
             |    (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE])
             |      AS threshold)
             |  GROUP BY 1)
             |ORDER BY threshold""".stripMargin)),

    // -- sampling: deterministic weighted interleave (training order) -----
    // Strata a (rate 4) and b (rate 1) from doc_id % 3 (c dropped):
    // vt = hashFrac(id, seed)/rate — reading in vt order serves strata
    // 4:1 at every prefix. Pure map; oracle replays the md5 fraction.
    "doc_interleave" -> Gated(
      (s, d) => Sample.interleave(
        TestData.table(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0, "a")
            .when(col("doc_id") % 3 === 1, "b")
            .otherwise("c").as("stratum")),
        "stratum", Map("a" -> 4.0, "b" -> 1.0), seed = "il1")
        .orderBy(col("vt"), col("doc_id")),
      Some(s"""SELECT doc_id,
              |  CASE doc_id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
              |    ELSE 'c' END AS stratum,
              |  round(${md5FracSql("doc_id::VARCHAR || 'il1'")} /
              |    (CASE doc_id % 3 WHEN 0 THEN 4.0::DOUBLE
              |      ELSE 1.0::DOUBLE END), 9) AS vt
              |FROM documents WHERE doc_id % 3 < 2
              |ORDER BY 3, 1""".stripMargin)),

    // -- curation: Zipf rank-frequency fit per source ----------------------
    // Vocabulary-health diagnostic: slope/intercept of ln(count) on
    // ln(rank) over each source's top-50 terms. Ranks are deterministic
    // (count desc, word asc); both engines fit with their native
    // regr_slope/regr_intercept over identical (ln rank, ln count)
    // pairs — a ≤50-point aggregate where merge-order noise is ~1e-14,
    // far under the 6-decimal round.
    "doc_zipf" -> Gated(
      (s, d) => Text.zipfReport(TestData.table(s, d, "documents"),
        groupCols = Seq("source"), topN = 50)
        .orderBy(col("source")),
      Some("""WITH w AS MATERIALIZED (
             |  SELECT source, regexp_replace(lower(unnest(
             |      string_split_regex(trim(text), '\s+'))),
             |      '[^a-z0-9]', '', 'g') AS w
             |  FROM documents),
             |c AS MATERIALIZED (SELECT source, w, count(*) AS n
             |  FROM w WHERE len(w) > 0 GROUP BY 1, 2),
             |r AS (SELECT source, n, row_number() OVER (
             |    PARTITION BY source ORDER BY n DESC, w ASC) AS rank
             |  FROM c)
             |SELECT source, count(*) AS n_terms,
             |  round(regr_slope(ln(n), ln(rank)), 6) AS slope,
             |  round(regr_intercept(ln(n), ln(rank)), 6) AS intercept
             |FROM r WHERE rank <= 50 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- corpus I/O: sharded training export + manifest -------------------
    // The corpus is exported as shard=NN parquet directories under a
    // deterministic md5-keyed assignment, then the manifest is read back
    // FROM THE LAYOUT (counts, char mass, id ranges per shard). The
    // oracle recomputes the shard key with the md5Int60 twin directly
    // over the table — a lost/truncated shard write cannot pass.
    "doc_export_shards" -> Gated(
      (s, d) => {
        val tmp = TestData.scratch("graft_shards", d)
        CorpusIo.writeShards(TestData.table(s, d, "documents")
          .select(col("doc_id"), col("text"), col("source")), tmp,
          nShards = 8)
        CorpusIo.shardManifest(s, tmp).orderBy(col("shard"))
      },
      Some(s"""SELECT (${md5Int60Sql("doc_id::VARCHAR")} % 8)::INT AS shard,
              |  count(*) AS n_docs, sum(length(text)) AS n_chars,
              |  min(doc_id) AS min_id, max(doc_id) AS max_id
              |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- corpus I/O: JSONL ingestion with corrupt-line quarantine ---------
    // Documents round-trip through to_json lines; every % 17 == 0 line
    // is corrupted with a prefix. readJsonl (from_json over a text scan
    // with an explicit corrupt-record channel) must keep exactly the
    // clean lines with text/source intact.
    "doc_jsonl_ingest" -> Gated(
      (s, d) => {
        val tmp = TestData.scratch("graft_jsonl", d)
        val js = to_json(struct(col("doc_id"), col("text"), col("source")))
        TestData.table(s, d, "documents")
          .select(when(col("doc_id") % 17 === 0,
            concat(lit("{corrupt "), js)).otherwise(js).as("value"))
          .write.mode("overwrite").text(tmp)
        CorpusIo.readJsonl(s, tmp,
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING, source STRING"))
          .select(col("doc_id"), length(col("text")).as("n_chars"),
            col("source"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, length(text) AS n_chars, source
             |FROM documents WHERE doc_id % 17 <> 0
             |ORDER BY doc_id""".stripMargin)),

    // -- dedup: STREAMING exact dedup through real micro-batches ---------
    // The corpus arrives as micro-batch 1, then replays ENTIRELY as
    // micro-batch 2 inside the watermark: dropDuplicatesWithinWatermark
    // state must survive the batch boundary, or every replayed row leaks
    // into the output and the row count/hash diverges from the oracle's
    // one-row-per-fingerprint. Output is the kept fingerprints only —
    // which organic duplicate wins within batch 1 is partition-order
    // dependent, the fingerprint set is not.
    "doc_dedup_stream" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
          .select(col("doc_id"), col("text"))
        val tmp = TestData.freshScratch("graft_sdedup")
        val src = s"$tmp/src"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
        def batchAt(ts: String) = docs.withColumn("event_time",
          lit(java.sql.Timestamp.valueOf(ts)))
        batchAt("2024-01-01 00:00:00").write.mode("append").parquet(src)
        // state partitions derive from the source scale (metadata-only
        // count): the dedup state is one fingerprint per doc, and each
        // micro-batch otherwise commits 32 near-empty state stores
        val ss = graft.streaming.StreamIngest.withStatePartitions(s,
          s.read.parquet(src).count())
        val deduped = graft.streaming.StreamIngest.streamingDedupDocs(
          ss.readStream.schema(batchAt("2024-01-01 00:00:00").schema)
            .parquet(src),
          "event_time", "1 hour")
        val q = deduped.select(col("fingerprint")).writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) => b.write.mode("append").parquet(out); ()
          }
          .start()
        try {
          q.processAllAvailable()
          // full replay, 10 min later — within the 1h watermark horizon
          batchAt("2024-01-01 00:10:00").write.mode("append").parquet(src)
          q.processAllAvailable()
        } finally q.stop()
        s.read.parquet(out).orderBy(col("fingerprint"))
      },
      Some("""SELECT DISTINCT
             |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
             |FROM documents ORDER BY 1""".stripMargin)),

    // -- dedup: EXACT word-3gram Jaccard pairs (shared-shingle buckets) --
    "doc_ngram_jaccard" -> Gated(
      (s, d) => Dedup.ngramJaccard(TestData.table(s, d, "documents"),
        n = 3, threshold = 0.5)
        .orderBy(col("a"), col("b")),
      Some(ngramJaccardOracle)),

    // -- dedup: MinHash-LSH near-dup (same oracle: recall ~1 by design) --
    "doc_minhash_lsh" -> Gated(
      (s, d) => Dedup.minhashLsh(TestData.table(s, d, "documents"),
        n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5)
        .orderBy(col("a"), col("b")),
      Some(ngramJaccardOracle)),

    // -- dedup: maxDocChars giant-document valve, capped == uncapped -----
    // Every gate doc is far under the 100k-char cap, so the capped run
    // must reproduce the UNCAPPED oracle exactly — proving the valve is
    // a true no-op below the cap (the same contract DedupStarSpec pins
    // for maxBucket); SkewSpec owns the over-cap (multi-MB doc) regime.
    "doc_lsh_capped" -> Gated(
      (s, d) => Dedup.minhashLsh(TestData.table(s, d, "documents"),
        n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5,
        maxDocChars = 100000)
        .orderBy(col("a"), col("b")),
      Some(ngramJaccardOracle)),

    // -- dedup: the maxBucket valve's runtime signal ----------------------
    // A planted 350-member boilerplate family (constant text) crosses the
    // cap in every one of the 32 bands — lshOverCapBuckets must name
    // exactly those buckets with the exact member count, making a capped
    // run's silent survivors observable instead of invisible. The 50 real
    // docs can't cross the cap by cardinality. bandhash is an
    // engine-internal xxhash64, so the gate projects (band, n_members),
    // which the oracle replays from first principles: identical docs
    // share every band bucket, so each band holds one family-sized bucket.
    "doc_lsh_overcap" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
          .filter(col("doc_id") < 400)
          .withColumn("text", when(col("doc_id") < 350,
            lit("one boilerplate page mirrored across a million sites"))
            .otherwise(col("text")))
        Dedup.lshOverCapBuckets(docs, maxBucket = 100)
          .select(col("band"), col("n_members"))
          .orderBy(col("band"))
      },
      Some("""SELECT t.band::INT AS band,
             |  (SELECT count(*) FROM documents WHERE doc_id < 350)::BIGINT
             |    AS n_members
             |FROM range(32) AS t(band) ORDER BY band""".stripMargin)),

    // -- dedup: INCREMENTAL near-dup against a persisted LSH index -------
    // Index built from doc_id % 4 != 0 (writeLshIndex — corpus shingled
    // ONCE, band table + shingle sets persisted), then the % 4 == 0 batch
    // checked against it: batch bands join the STORED band table, the
    // indexed text is never re-shingled — the growing-corpus production
    // shape. Output = near-dup pairs with >= one new side (corpus-vs-
    // corpus pairs are by design absent: reported when their batch
    // arrived). Oracle: brute n-gram Jaccard with the same predicate.
    "doc_neardup_incremental" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val tmp = TestData.scratch("graft_lshidx", d)
        Dedup.writeLshIndex(docs.filter(col("doc_id") % 4 =!= 0), tmp,
          n = 3, bands = 64, rowsPerBand = 2)
        Dedup.neardupAgainstIndex(docs.filter(col("doc_id") % 4 === 0), tmp,
          threshold = 0.5)
          .orderBy(col("a"), col("b"))
      },
      Some(ngramJaccardOracle.replace("WHERE jaccard >= 0.5",
        "WHERE jaccard >= 0.5 AND (a % 4 = 0 OR b % 4 = 0)"))),

    // -- dedup: STAR-form incremental probe (the dedup-decision twin) ----
    // Same index/batch split as doc_neardup_incremental, but each new
    // doc verifies against bucket HUBS only — Θ(batch × bands), the
    // 1000x-survivable shape (the pair form is quadratic in dup-family
    // size). The gate projects the DECISION: which new docs duplicate
    // the stored corpus. Oracle = exact EXISTS over all (new, stored)
    // jaccards — recall 1 on this corpus because dup families are tight
    // (every member verifies against any bucket hub of its family).
    "doc_neardup_incremental_star" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val tmp = TestData.scratch("graft_lshidx_star", d)
        Dedup.writeLshIndex(docs.filter(col("doc_id") % 4 =!= 0), tmp,
          n = 3, bands = 64, rowsPerBand = 2)
        Dedup.neardupAgainstIndexStar(docs.filter(col("doc_id") % 4 === 0),
            tmp, threshold = 0.5)
          .select(col("id").as("doc_id")).distinct()
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM toks)
             |SELECT DISTINCT x.doc_id
             |FROM grams x JOIN grams y
             |  ON x.doc_id % 4 = 0 AND y.doc_id % 4 <> 0
             |WHERE len(list_intersect(x.g, y.g))::DOUBLE /
             |    (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g)))
             |    >= 0.5
             |ORDER BY 1""".stripMargin)),

    // -- dedup: near-dup pair graph -> connected components --------------
    // (node, component=min reachable id) over the minhash pair set; the
    // oracle walks the same pair set to a fixpoint with a recursive CTE.
    "doc_neardup_clusters" -> Gated(
      (s, d) => Dedup.connectedComponents(
        Dedup.minhashLsh(TestData.table(s, d, "documents"),
          n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5))
        .select(col("node").as("doc_id"), col("component"))
        .orderBy(col("doc_id")),
      Some("""WITH RECURSIVE toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM toks),
             |pairs AS (
             |  SELECT a, b FROM (
             |    SELECT x.doc_id AS a, y.doc_id AS b,
             |      len(list_intersect(x.g, y.g))::DOUBLE /
             |        (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS j
             |    FROM grams x JOIN grams y ON x.doc_id < y.doc_id)
             |  WHERE j >= 0.5),
             |edges AS (
             |  SELECT a AS u, b AS v FROM pairs
             |  UNION SELECT b, a FROM pairs),
             |reach(u, v) AS (
             |  SELECT u, v FROM edges
             |  UNION
             |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
             |SELECT u AS doc_id, least(u, min(v)) AS component
             |FROM reach GROUP BY u ORDER BY 1""".stripMargin)),

    // -- dedup: clusters from STAR edges (the dense-duplication path) ---
    // minhashLshStar emits one verified hub edge per bucket member
    // instead of the bucket clique — Θ(d) not Θ(d²) on a d-fold dup
    // family — and its components must still equal the ground-truth
    // clusters (same recursive-CTE oracle as doc_neardup_clusters: at
    // these (b, r) every true pair is hub-connected in some bucket).
    "doc_neardup_clusters_star" -> Gated(
      (s, d) => Dedup.connectedComponents(
        Dedup.minhashLshStar(TestData.table(s, d, "documents"),
          n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5))
        .select(col("node").as("doc_id"), col("component"))
        .orderBy(col("doc_id")),
      Some("""WITH RECURSIVE toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM toks),
             |pairs AS (
             |  SELECT a, b FROM (
             |    SELECT x.doc_id AS a, y.doc_id AS b,
             |      len(list_intersect(x.g, y.g))::DOUBLE /
             |        (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS j
             |    FROM grams x JOIN grams y ON x.doc_id < y.doc_id)
             |  WHERE j >= 0.5),
             |edges AS (
             |  SELECT a AS u, b AS v FROM pairs
             |  UNION SELECT b, a FROM pairs),
             |reach(u, v) AS (
             |  SELECT u, v FROM edges
             |  UNION
             |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
             |SELECT u AS doc_id, least(u, min(v)) AS component
             |FROM reach GROUP BY u ORDER BY 1""".stripMargin)),

    // -- text analysis: per-doc TF-IDF top terms -------------------------
    // Ranking runs on the ROUNDED score with term tiebreak, so selection
    // at the top-k boundary is identical on both sides regardless of
    // libm ulp differences in ln.
    "doc_tfidf" -> Gated(
      (s, d) => Text.tfidfTopTerms(TestData.table(s, d, "documents"), k = 3)
        .orderBy(col("doc_id"), col("rank")),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |scored AS (
             |  SELECT tf.doc_id, tf.term,
             |    round(tf.tf * (ln(((SELECT count(*) FROM documents) + 1)::DOUBLE
             |      / (df.df + 1)) + 1), 6) AS tfidf
             |  FROM tf JOIN df USING (term)),
             |ranked AS (
             |  SELECT doc_id, term, tfidf, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)::INT AS rank
             |  FROM scored)
             |SELECT doc_id, term, tfidf, rank FROM ranked
             |WHERE rank <= 3 ORDER BY 1, 4""".stripMargin)),

    // -- cluster topic labels: pooled TF-IDF top terms per dup cluster ---
    "doc_cluster_topics" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val cc = Dedup.connectedComponents(Dedup.minhashLsh(docs,
          n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5))
        Text.clusterTopics(docs, cc, k = 3)
          .orderBy(col("component"), col("rank"))
      },
      Some("""WITH RECURSIVE toks0 AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM toks0),
             |pairs AS (
             |  SELECT a, b FROM (
             |    SELECT x.doc_id AS a, y.doc_id AS b,
             |      len(list_intersect(x.g, y.g))::DOUBLE /
             |        (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS j
             |    FROM grams x JOIN grams y ON x.doc_id < y.doc_id)
             |  WHERE j >= 0.5),
             |edges AS (
             |  SELECT a AS u, b AS v FROM pairs
             |  UNION SELECT b, a FROM pairs),
             |reach(u, v) AS (
             |  SELECT u, v FROM edges
             |  UNION
             |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
             |comp AS MATERIALIZED (SELECT u AS doc_id,
             |    least(u, min(v)) AS component
             |  FROM reach GROUP BY u),
             |tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM
             |  (SELECT doc_id, unnest(t) AS term FROM toks0) GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |ctf AS (SELECT c.component, tf.term, sum(tf.tf) AS ctf
             |  FROM tf JOIN comp c USING (doc_id) GROUP BY 1, 2),
             |scored AS (SELECT ctf.component, ctf.term,
             |    round(ctf.ctf * (ln(((SELECT count(*) FROM documents) + 1)
             |      ::DOUBLE / (df.df + 1)) + 1), 6) AS score
             |  FROM ctf JOIN df USING (term)),
             |ranked AS (SELECT component, term, score, row_number() OVER (
             |    PARTITION BY component
             |    ORDER BY score DESC, term ASC)::INT AS rank
             |  FROM scored)
             |SELECT component, term, score, rank FROM ranked
             |WHERE rank <= 3 ORDER BY 1, 4""".stripMargin)),

    // -- water-filling mix rates: hit target shares, keep the most data --
    "doc_mix_rates" -> Gated(
      (s, d) => Sample.mixRates(TestData.table(s, d, "documents"), "lang",
          Seq("en" -> 0.5, "zh" -> 0.15, "es" -> 0.15,
            "de" -> 0.1, "fr" -> 0.1))
        .orderBy(col("stratum")),
      Some("""WITH c AS (SELECT lang AS stratum, count(*) AS n
             |  FROM documents GROUP BY 1),
             |t AS (SELECT stratum, share::DOUBLE AS share FROM (VALUES
             |  ('en', 0.5), ('zh', 0.15), ('es', 0.15),
             |  ('de', 0.1), ('fr', 0.1)) v(stratum, share)),
             |j AS (SELECT t.stratum, t.share, coalesce(c.n, 0) AS n
             |  FROM t LEFT JOIN c USING (stratum)),
             |m AS MATERIALIZED (SELECT min(n / share) AS tt FROM j),
             |k AS (SELECT stratum, n, share,
             |    floor(share * (SELECT tt FROM m))::BIGINT AS take_n
             |  FROM j)
             |SELECT stratum, n, share, take_n,
             |  CASE WHEN n > 0 THEN round(take_n::DOUBLE / n, 6)
             |    ELSE 0.0 END AS rate
             |FROM k ORDER BY 1""".stripMargin)),

    // -- contamination attribution: which bench items leak, from where ---
    "doc_contamination_report" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        Dedup.contaminationReport(
          docs.filter(col("doc_id") % 50 =!= 3),
          docs.filter(col("doc_id") % 50 === 3),
          n = 3)
          .orderBy(col("bench_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM toks),
             |ce AS (SELECT doc_id AS corpus_id, unnest(g) AS gr
             |  FROM grams WHERE doc_id % 50 <> 3),
             |heavy AS MATERIALIZED (SELECT gr FROM ce
             |  GROUP BY 1 HAVING count(*) > 1000),
             |cr AS (SELECT * FROM ce
             |  WHERE gr NOT IN (SELECT gr FROM heavy)),
             |be AS (SELECT doc_id AS bench_id, unnest(g) AS gr
             |  FROM grams WHERE doc_id % 50 = 3),
             |br AS MATERIALIZED (SELECT * FROM be
             |  WHERE gr NOT IN (SELECT gr FROM heavy)),
             |nb AS (SELECT bench_id, count(*) AS nb FROM br GROUP BY 1),
             |p AS (SELECT br.bench_id, cr.corpus_id, count(*) AS n_shared
             |  FROM br JOIN cr USING (gr) GROUP BY 1, 2),
             |r AS (SELECT p.*, nb.nb, row_number() OVER (
             |    PARTITION BY p.bench_id
             |    ORDER BY n_shared DESC, corpus_id) AS rn
             |  FROM p JOIN nb USING (bench_id))
             |SELECT bench_id, corpus_id, n_shared,
             |  round(n_shared::DOUBLE / nb, 6) AS overlap
             |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin)),

    // -- curation: deterministic corpus mixing (per-stratum sampling) ----
    // Hash-Bernoulli keep decision (md5 of doc_id + seed), stratified by
    // token-count bucket — reproducible on any cluster size; the oracle
    // rebuilds the 60-bit md5 fraction digit for digit.
    "doc_corpus_mix" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val stratum = when(Text.tokenCount(col("text")) < 40, "short")
          .when(Text.tokenCount(col("text")) < 80, "medium")
          .otherwise("long")
        Sample.mix(docs, stratum,
          Map("short" -> 0.25, "medium" -> 0.5), defaultRate = 1.0,
          seed = "mix1")
          .select(col("doc_id"), col("stratum"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id,
             |    len(string_split_regex(trim(text), '\\s+')) AS n
             |  FROM documents),
             |s AS (SELECT doc_id,
             |    CASE WHEN n < 40 THEN 'short'
             |         WHEN n < 80 THEN 'medium' ELSE 'long' END AS stratum,
             |    ${md5FracSql("doc_id::VARCHAR || 'mix1'")} AS frac
             |  FROM t)
             |SELECT doc_id, stratum FROM s
             |WHERE frac < CASE stratum WHEN 'short' THEN 0.25
             |                          WHEN 'medium' THEN 0.5 ELSE 1.0 END
             |ORDER BY 1""".stripMargin)),

    // -- sampling: epoch upsampling (rates > 1 repeat rows) --------------
    // rate 2.3 = two full epochs + a deterministic 30% third; the
    // fractional subset derives from the same md5 fraction as mix, so
    // the oracle rebuilds membership exactly. The oracle casts the rate
    // to ::DOUBLE before the subtraction — DuckDB types the CASE
    // literal as DECIMAL(2,1), whose exact 0.3 differs from Spark's
    // double(2.3) - 2.0 in the 17th digit.
    "doc_upsample" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val stratum = when(Text.tokenCount(col("text")) < 40, "short")
          .when(Text.tokenCount(col("text")) < 80, "medium")
          .otherwise("long")
        Sample.upsample(docs, stratum,
          Map("short" -> 2.3, "medium" -> 0.5), defaultRate = 1.0,
          seed = "up1")
          .select(col("doc_id"), col("stratum"), col("epoch"))
          .orderBy(col("doc_id"), col("epoch"))
      },
      Some(s"""WITH t AS (SELECT doc_id,
             |    len(string_split_regex(trim(text), '\\s+')) AS n
             |  FROM documents),
             |s AS (SELECT doc_id,
             |    CASE WHEN n < 40 THEN 'short'
             |         WHEN n < 80 THEN 'medium' ELSE 'long' END AS stratum,
             |    ${md5FracSql("doc_id::VARCHAR || 'up1'")} AS frac
             |  FROM t),
             |r AS (SELECT doc_id, stratum, frac,
             |    (CASE stratum WHEN 'short' THEN 2.3
             |                  WHEN 'medium' THEN 0.5 ELSE 1.0
             |     END)::DOUBLE AS rate
             |  FROM s)
             |SELECT doc_id, stratum, epoch FROM (
             |  SELECT doc_id, stratum, rate, frac,
             |    unnest(generate_series(0, ceil(rate)::INT - 1)) AS epoch
             |  FROM r WHERE rate > 0)
             |WHERE epoch < floor(rate) OR frac < rate - floor(rate)
             |ORDER BY 1, 3""".stripMargin)),

    // -- curation: temperature-flattened language mixing -----------------
    // Rates derive from the per-language counts themselves:
    // (count/min_count)^(alpha-1), alpha = 0.5 — the countᵅ sampling
    // rule realized as a deterministic hash filter. The oracle recomputes
    // counts, rates, and the md5 fraction from scratch.
    "doc_mix_temperature" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        Sample.temperatureMix(docs, col("lang"), alpha = 0.5,
            seed = "temp1")._1
          .select(col("doc_id"), col("stratum"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH c AS (SELECT lang, count(*)::DOUBLE AS c
             |  FROM documents GROUP BY 1),
             |r AS (SELECT lang,
             |    pow(c / (SELECT min(c) FROM c), -0.5) AS rate FROM c),
             |s AS (SELECT doc_id, lang,
             |    ${md5FracSql("doc_id::VARCHAR || 'temp1'")} AS frac
             |  FROM documents)
             |SELECT s.doc_id, s.lang AS stratum FROM s JOIN r USING (lang)
             |WHERE s.frac < r.rate ORDER BY 1""".stripMargin)),

    // -- curation: sequence packing (concat-and-chunk) -------------------
    // Documents lie end to end in the seeded (hashFrac, id) order and
    // cut into 512-token training sequences; one row per (doc, seq)
    // overlap with the doc-relative token range. The engine computes
    // the global prefix sum bucketed (16 deterministic hash-range
    // buckets); the oracle uses one flat window — bucket-count
    // independence is exactly the operator's contract.
    "doc_pack" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        Sample.pack(docs, Text.tokenCount(col("text")), seqLen = 512,
            buckets = 16, seed = "pack1")
          .orderBy(col("seq_id"), col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id,
             |    len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n,
             |    ${md5FracSql("doc_id::VARCHAR || 'pack1'")} AS frac
             |  FROM documents),
             |o AS (SELECT doc_id, n,
             |    coalesce(sum(n) OVER (ORDER BY frac, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0)::BIGINT AS off
             |  FROM t WHERE n > 0),
             |x AS (SELECT doc_id, n, off,
             |    unnest(generate_series(off // 512, (off + n - 1) // 512))
             |      AS seq_id
             |  FROM o)
             |SELECT seq_id, doc_id,
             |  greatest(seq_id * 512, off) - off AS doc_from,
             |  least((seq_id + 1) * 512, off + n)
             |    - greatest(seq_id * 512, off) AS len
             |FROM x ORDER BY 1, 2""".stripMargin)),

    // -- curation: deterministic train/val/test split --------------------
    // Integer weights 8/1/1 give exact double bounds 0.8/0.9; the split
    // label is a pure function of (doc_id, seed).
    "doc_split" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        Sample.split(docs,
            Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0), seed = "sp1")
          .select(col("doc_id"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
             |  CASE WHEN frac < 0.8 THEN 'train'
             |       WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS split
             |FROM (SELECT doc_id,
             |    ${md5FracSql("doc_id::VARCHAR || 'sp1'")} AS frac
             |  FROM documents)
             |ORDER BY 1""".stripMargin)),

    // -- curation: per-domain quota (keep <= cap docs per source) --------
    // The domain-balancing step crawl pipelines apply so one giant
    // domain can't dominate; deterministic seeded-hash order means
    // re-runs keep the same rows.
    "doc_domain_cap" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        Sample.capPerStratum(docs.select(col("doc_id"), col("source")),
            col("source"), cap = 10)
          .select(col("doc_id"), col("stratum"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, stratum FROM (
             |  SELECT doc_id, source AS stratum,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY ${md5FracSql("doc_id::VARCHAR || 'cap1'")} ASC,
             |        doc_id ASC) AS rk
             |  FROM documents)
             |WHERE rk <= 10 ORDER BY 1""".stripMargin)),

    // -- curation: incremental dedup against the seen corpus -------------
    // "Seen" = doc_id % 5 == 0; new docs whose normalized fingerprint
    // already exists there are dropped (cross-snapshot append-only
    // dedup). Fingerprints, never text, ride the anti-join.
    "doc_dedup_incremental" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        Dedup.dedupAgainst(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0))
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some("""WITH fp AS (SELECT doc_id,
             |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             |      AS fp
             |  FROM documents)
             |SELECT doc_id FROM fp
             |WHERE doc_id % 5 <> 0 AND fp NOT IN
             |  (SELECT fp FROM fp WHERE doc_id % 5 = 0)
             |ORDER BY 1""".stripMargin)),

    // -- curation: the Gopher quality-rule bundle ------------------------
    // Published MassiveText thresholds over exact token/line signals;
    // the oracle recomputes every signal and the conjunction.
    "doc_gopher" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        Text.gopherRules(docs).orderBy(col("doc_id"))
      },
      Some("""WITH sig AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS w,
             |    string_split(text, chr(10)) AS ln,
             |    ((len(text) - len(replace(text, '#', '')))
             |     + (len(text) - len(replace(text, '...', ''))) / 3
             |    )::DOUBLE AS sym
             |  FROM documents),
             |sc AS (SELECT doc_id,
             |    len(w)::INT AS n_words,
             |    round(list_sum(list_transform(w, x -> len(x)))::DOUBLE
             |      / len(w), 6) AS mean_word_len,
             |    round(len(list_filter(w, x ->
             |        regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(w), 6)
             |      AS alpha_word_frac,
             |    round(len(list_filter(ln, l ->
             |        substr(trim(l), 1, 1) IN ('•', '-', '*')))::DOUBLE
             |      / len(ln), 6) AS bullet_line_frac,
             |    round(len(list_filter(ln, l ->
             |        ends_with(trim(l), '...')))::DOUBLE / len(ln), 6)
             |      AS ellipsis_line_frac,
             |    round(sym / len(w), 6) AS symbol_word_ratio,
             |    len(list_filter(w, x -> lower(x) IN
             |      ('the','be','to','of','and','that','have','with')))::INT
             |      AS stop_hits
             |  FROM sig)
             |SELECT *,
             |  (n_words >= 50 AND n_words <= 100000
             |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             |   AND symbol_word_ratio < 0.1 AND bullet_line_frac < 0.9
             |   AND ellipsis_line_frac < 0.3 AND alpha_word_frac > 0.8
             |   AND stop_hits >= 2) AS keep
             |FROM sc ORDER BY doc_id""".stripMargin)),

    // -- cleaning: NFC + control-strip + whitespace-collapse -------------
    // The corpus is clean ASCII, so the gate plants the damage: a
    // decomposed accent (e + U+0301 must compose to é), a BEL control
    // char (must vanish), a tab run and doubled spaces (must collapse).
    // DuckDB's utf8proc nfc_normalize is the twin of the JDK Normalizer
    // codegen expression — both implement Unicode canonical composition.
    "doc_normalize" -> Gated(
      (s, d) => TestData.table(s, d, "documents")
        .select(col("doc_id"),
          Text.normalizeText(concat(col("text"),
            lit("\nCafé  bad\t\tctrl  end "))).as("text"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, trim(regexp_replace(regexp_replace(
             |    nfc_normalize(text || chr(10) || 'Cafe' || chr(769) || ' '
             |      || chr(7) || ' bad' || chr(9) || chr(9) || 'ctrl  end '),
             |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
             |  '[ \t]+', ' ', 'g')) AS text
             |FROM documents ORDER BY 1""".stripMargin)),

    // -- cleaning: corpus-wide paragraph dedup (keep first occurrence) ---
    // Every doc gets the same planted promo paragraph; only the corpus-
    // first (doc, position) occurrence of any repeated paragraph may
    // survive, blank lines always survive, and the reassembled text must
    // preserve stored order — the oracle replays the rule with a window.
    "doc_paragraph_dedup" -> Gated(
      (s, d) => Text.dedupParagraphs(
        TestData.table(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            lit("\nShare this post on social media")).as("text")))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
             |    text || chr(10) || 'Share this post on social media'
             |      AS text FROM documents),
             |p AS (SELECT doc_id, r.i AS i, r.p AS p FROM (
             |    SELECT doc_id, unnest(list_transform(
             |        range(1, len(ls) + 1), x -> {'i': x, 'p': ls[x]})) AS r
             |    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
             |          FROM t))),
             |k AS (SELECT doc_id, i, p, trim(lower(p)) AS k FROM p),
             |win AS (SELECT doc_id, i, p, k,
             |    row_number() OVER (PARTITION BY k ORDER BY doc_id, i)
             |      AS rn FROM k)
             |SELECT doc_id, string_agg(p, chr(10) ORDER BY i) AS text
             |FROM win WHERE k = '' OR rn = 1
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // -- curation: deterministic global shuffle order --------------------
    // shuffle_pos must equal the row's rank in the seeded
    // (hashFrac, doc_id) total order — computed windowlessly via the
    // pack-style bucketed prefix sum, replayed flat by the oracle.
    "doc_shuffle" -> Gated(
      (s, d) => Sample.shuffleOrder(
          TestData.table(s, d, "documents"), buckets = 16, seed = "shuf1")
        .select(col("doc_id"), col("shuffle_pos"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
             |  (row_number() OVER (ORDER BY frac, doc_id) - 1)::BIGINT
             |    AS shuffle_pos
             |FROM (SELECT doc_id,
             |    ${md5FracSql("doc_id::VARCHAR || 'shuf1'")} AS frac
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // -- curation: model-based quality classifier (hashed logistic
    // regression, fastText shape). Trained IN the gate on lang='en'
    // labels — 3 full-batch GD rounds over 64 hashed buckets, integer-
    // micro weights so every sum is exact — then scores every doc. The
    // oracle unrolls the whole training loop and must reproduce every
    // weight, margin, and final probability bit-for-bit.
    "doc_quality_classifier" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val model = Text.trainQualityLr(docs, col("lang") === "en",
          buckets = 64, rounds = 3, lr = 0.5)
        Text.scoreQualityLr(docs, model).orderBy(col("doc_id"))
      },
      Some(qualityLrOracle(rounds = 3, buckets = 64))),

    // -- cleaning: lite HTML-to-text extraction --------------------------
    // Every doc is wrapped in planted markup: script/style with
    // contents, nested tags, entities (incl. the &amp;-last ordering
    // trap: '&amp;lt;' must decode to the TEXT '&lt;'). The oracle runs
    // the identical RE2/replace chain in DuckDB.
    "doc_strip_html" -> Gated(
      (s, d) => TestData.table(s, d, "documents")
        .select(col("doc_id"),
          Text.stripHtml(concat(
            lit("<html><head><title>T</title><style>p{color:red}</style>" +
              "<script type=\"text/javascript\">var x = \"<p>\";</script>" +
              "</head><body><h1 class=\"big\">Head</h1><p>"),
            col("text"),
            lit("</p><br>Tom &amp;amp; Jerry &lt;3 &quot;q&quot;" +
              " &#39;s&nbsp;end</body></html>"))).as("text"))
        .orderBy(col("doc_id")),
      Some("""WITH h AS (SELECT doc_id,
             |    '<html><head><title>T</title><style>p{color:red}</style>'
             |    || '<script type="text/javascript">var x = "<p>";</script>'
             |    || '</head><body><h1 class="big">Head</h1><p>' || text
             |    || '</p><br>Tom &amp;amp; Jerry &lt;3 &quot;q&quot;'
             |    || ' &#39;s&nbsp;end</body></html>' AS html
             |  FROM documents),
             |x AS (SELECT doc_id,
             |  replace(replace(replace(replace(replace(replace(
             |    regexp_replace(
             |      regexp_replace(
             |        regexp_replace(
             |          regexp_replace(html,
             |            '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             |        '(?i)<br[ /]*>|</p[ ]*>', chr(10), 'g'),
             |      '<[^>]+>', ' ', 'g'),
             |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
             |    '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t
             |  FROM h)
             |SELECT doc_id, trim(regexp_replace(t, '[ \t]+', ' ', 'g'))
             |  AS text
             |FROM x ORDER BY 1""".stripMargin)),

    // -- dedup: n-gram CONTAINMENT (sub-document duplication) ------------
    // Planted excerpts: every 17th doc spawns a new doc holding its
    // first 25 tokens — containment 1.0 against its base even though
    // Jaccard is far below any threshold. All organic crossing pairs
    // count too; the oracle scores every pair exactly.
    "doc_containment" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
          .select(col("doc_id"), col("text"))
        val excerpts = docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            array_join(slice(Text.tokens(col("text")), 1, 25), " ")
              .as("text"))
        Dedup.ngramContainment(docs.union(excerpts),
            n = 3, threshold = 0.8)
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, array_to_string(
             |      string_split_regex(trim(text), '\s+')[1:25], ' ')
             |    FROM documents WHERE doc_id % 17 = 0),
             |toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+')
             |    AS t FROM all_docs),
             |grams AS (
             |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM toks)
             |SELECT a, b, containment FROM (
             |  SELECT x.doc_id AS a, y.doc_id AS b,
             |    round(len(list_intersect(x.g, y.g))::DOUBLE /
             |      least(len(x.g), len(y.g)), 6) AS containment
             |  FROM grams x JOIN grams y ON x.doc_id < y.doc_id
             |  WHERE len(x.g) > 0 AND len(y.g) > 0)
             |WHERE containment >= 0.8 ORDER BY 1, 2""".stripMargin)),

    // -- curation: per-doc novelty (fraction of shingles seen elsewhere) -
    "doc_novelty" -> Gated(
      (s, d) => Dedup.noveltyStats(TestData.table(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+')
             |    AS t FROM documents),
             |grams AS (
             |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM toks),
             |ex AS (SELECT doc_id, unnest(g) AS g2 FROM grams),
             |cnt AS (SELECT g2, count(*) AS c FROM ex GROUP BY 1),
             |per AS (SELECT doc_id, count(*) AS n_shingles,
             |    round(avg(CASE WHEN c > 1 THEN 1.0 ELSE 0.0 END), 6)
             |      AS dup_shingle_frac
             |  FROM ex JOIN cnt USING (g2) GROUP BY 1)
             |SELECT d.doc_id,
             |  coalesce(per.n_shingles, 0) AS n_shingles,
             |  coalesce(per.dup_shingle_frac, 0.0) AS dup_shingle_frac
             |FROM documents d LEFT JOIN per USING (doc_id)
             |ORDER BY 1""".stripMargin)),

    // -- tokenizer: distributed BPE training -----------------------------
    // Six merges learned from the corpus word-frequency table (ties
    // break to the lexicographically smallest pair); the oracle unrolls
    // the training loop round by round and must reproduce every merge
    // and its count.
    "bpe_train" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        // batched trainer: proven merge-identical to the serial one
        // (BpeBatchSpec), so the serial-replay oracle still applies
        val (merges, _) = Bpe.trainBatched(Bpe.wordVocab(docs), k = 6)
        Bpe.mergesDf(s, merges)
          .select(col("rank").as("merge_rank"), col("left").as("lft"),
            col("right").as("rgt"), col("count").as("cnt"))
          .orderBy(col("merge_rank"))
      },
      Some(bpeTrainOracle(6))),

    // -- tokenizer: BPE encoding (dictionary-join shape) -----------------
    // Per-document subword counts under the six learned merges; the
    // fold runs once per DISTINCT word, broadcast back onto the word
    // stream. The oracle encodes through the unrolled chain's final
    // vocab state.
    "bpe_encode" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val (merges, _) = Bpe.trainBatched(Bpe.wordVocab(docs), k = 6)
        Bpe.encode(docs, merges).orderBy(col("doc_id"))
      },
      Some(bpeEncodeOracle(6))),

    // -- curation: benchmark decontamination ------------------------------
    // Corpus = docs outside the holdout, benchmark = every 50th doc; a
    // doc is contaminated at >= 3 shared word-3-gram shingles. The
    // benchmark shingle set is broadcast; only hit rows shuffle.
    "doc_decontaminate" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        Dedup.decontaminate(
          docs.filter(col("doc_id") % 50 =!= 3),
          docs.filter(col("doc_id") % 50 === 3),
          n = 3, minHits = 3)
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM toks),
             |bench AS (
             |  SELECT list_distinct(flatten(list(g))) AS bg FROM grams
             |  WHERE doc_id % 50 = 3)
             |SELECT doc_id, len(g)::INT AS n_shingles,
             |  len(list_intersect(g, bg))::INT AS hits,
             |  len(list_intersect(g, bg)) >= 3 AS contaminated
             |FROM grams CROSS JOIN bench
             |WHERE doc_id % 50 <> 3 ORDER BY 1""".stripMargin)),

    // -- multimodal: feature extraction over binary media columns --------
    // Media table derived from documents (content = UTF-8 bytes of the
    // text's sha256 hex — fixed 64-byte payloads). The per-partition batch
    // decode kernel averages byte lanes in Float32; quantizing by
    // 255*(len/8) = 2040 recovers the integer per-lane byte sums exactly
    // (float accumulation error over 8 terms is ~1e-4 of an ulp of the
    // quantized value), so the oracle compares in integer space.
    "mm_features" -> Gated(
      (s, d) => {
        val media = Multimodal.fromDocuments(TestData.table(s, d, "documents"))
        Multimodal.extractFeatures(media)
          .select(col("media_id"), col("modality"), col("decode_ok"),
            posexplode(col("feature")))
          .select(col("media_id"), col("modality"), col("decode_ok"),
            col("pos").cast("int").as("lane"),
            round(col("col") * 2040).cast("long").as("qsum"))
          .orderBy(col("media_id"), col("lane"))
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
             |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             |         ELSE 'video' END AS modality,
             |    sha256(text) AS h
             |  FROM documents)
             |SELECT media_id, modality, TRUE AS decode_ok, lane,
             |  list_sum(list_transform(generate_series(lane + 1, 64, 8),
             |    j -> ord(h[j])))::BIGINT AS qsum
             |FROM m CROSS JOIN (SELECT unnest(generate_series(0, 7))::INT AS lane)
             |ORDER BY 1, 4""".stripMargin)),

    // -- multimodal: image resize stage (batch kernel over image rows) ---
    // resizeKernel XORs payload bytes with (w*31+h) truncated to a byte;
    // the oracle rebuilds the output hex string character by character.
    "mm_resize" -> Gated(
      (s, d) => {
        val media = Multimodal.fromDocuments(TestData.table(s, d, "documents"))
        Multimodal.resizeImages(media, targetW = 17, targetH = 9)
          .select(col("media_id"), hex(col("content")).as("chex"),
            col("width"), col("height"), col("resize_ok"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
             |  upper(array_to_string(list_transform(generate_series(1, 64),
             |    j -> printf('%02x', xor(ord((sha256(text))[j]), 536) & 255)),
             |    '')) AS chex,
             |  17 AS width, 9 AS height, TRUE AS resize_ok
             |FROM documents WHERE doc_id % 3 = 0 ORDER BY 1""".stripMargin)),

    // -- multimodal: audio resample stage (batch kernel over audio rows) -
    // Digest payloads carry no WAV magic, so they take the deterministic
    // fake: payload XOR (targetHz*7) low byte. Real WAVs resample through
    // the JDK codec (LlmSpec covers that path bit-exactly).
    "mm_resample" -> Gated(
      (s, d) => {
        val media = Multimodal.fromDocuments(TestData.table(s, d, "documents"))
        Multimodal.resampleAudio(media, targetHz = 16000)
          .select(col("media_id"), hex(col("content")).as("chex"),
            col("sample_rate"), col("resample_ok"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
             |  upper(array_to_string(list_transform(generate_series(1, 64),
             |    j -> printf('%02x', xor(ord((sha256(text))[j]), 112000) & 255)),
             |    '')) AS chex,
             |  16000 AS sample_rate, TRUE AS resample_ok
             |FROM documents WHERE doc_id % 3 = 1 ORDER BY 1""".stripMargin)),

    // -- multimodal: video container probe (batch kernel over video rows)
    // Digest payloads carry no ftyp magic, so they take the metadata
    // passthrough fake. Real MP4 box parsing is covered bit-exactly in
    // LlmSpec with a hand-built moov.
    "mm_probe" -> Gated(
      (s, d) => {
        val media = Multimodal.fromDocuments(TestData.table(s, d, "documents"))
        Multimodal.probeVideos(media).orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
             |  (doc_id % 30000 + 1000) AS duration_ms,
             |  (doc_id % 640 + 32)::INT AS width,
             |  (doc_id % 480 + 32)::INT AS height,
             |  1 AS tracks, 'fake' AS brand, TRUE AS probe_ok
             |FROM documents WHERE doc_id % 3 = 2 ORDER BY 1""".stripMargin)),

    // -- multimodal: video frame-sampling plan (offset references) -------
    "mm_frames" -> Gated(
      (s, d) => {
        val media = Multimodal.fromDocuments(TestData.table(s, d, "documents"))
        Multimodal.sampleFrames(media, everyMs = 1000L)
          .orderBy(col("media_id"), col("frame_offset_ms"))
      },
      Some("""SELECT doc_id AS media_id,
             |  (doc_id % 30000 + 1000) AS duration_ms,
             |  unnest(generate_series(0, doc_id % 30000 + 1000 - 1, 1000))
             |    AS frame_offset_ms
             |FROM documents WHERE doc_id % 3 = 2 ORDER BY 1, 3""".stripMargin)),

    // -- multimodal: frame EXTRACTION (decodeFrames fake path) -----------
    // The real path (MJPEG-AVI -> JDK JPEG codec) is spec-tested on
    // synthesized AVI containers; the gate drives the same operator over
    // the digest corpus (fake kernel: one frame/second capped at 8,
    // stride 3, bytes = first 32 content bytes XOR index*131) so the
    // Spark-side plumbing is oracle-checked end to end.
    "mm_frames_decode" -> Gated(
      (s, d) => {
        val media = Multimodal.fromDocuments(TestData.table(s, d, "documents"))
        Multimodal.decodeFrames(media, everyNth = 3)
          .select(col("media_id"), col("frame_index"),
            hex(col("frame")).as("fhex"), col("width"), col("height"),
            col("decode_ok"))
          .orderBy(col("media_id"), col("frame_index"))
      },
      Some("""WITH v AS (SELECT doc_id, text,
             |    least((doc_id % 30000 + 1000) // 1000, 8) AS n
             |  FROM documents WHERE doc_id % 3 = 2),
             |f AS (SELECT doc_id, text,
             |    unnest(generate_series(0, n::INT - 1)) AS i
             |  FROM v WHERE n > 0)
             |SELECT doc_id AS media_id, i AS frame_index,
             |  upper(array_to_string(list_transform(generate_series(1, 32),
             |    j -> printf('%02x',
             |      xor(ord((sha256(text))[j]), i * 131) & 255)), ''))
             |    AS fhex,
             |  (doc_id % 640 + 32) AS width, (doc_id % 480 + 32) AS height,
             |  TRUE AS decode_ok
             |FROM f WHERE i % 3 = 0
             |ORDER BY 1, 2""".stripMargin)),

    // -- multimodal: perceptual-hash image dedup (planted clones) --------
    // The documents-derived media table unioned with byte-identical
    // clones (id + 99999 keeps id%3, so modality is preserved); the
    // digest payloads take dHash's md5-60 fake path, each image doc
    // pairs its clone at hamming 0, and the banded pigeonhole join must
    // find EXACTLY the pairs the oracle's all-pairs bit_count scan does.
    "mm_dhash_dedup" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val media = Multimodal.fromDocuments(docs).unionByName(
          Multimodal.fromDocuments(
            docs.withColumn("doc_id", col("doc_id") + 99999L)))
        Multimodal.imageNearDup(media, maxDist = 3)
          .orderBy(col("a"), col("b"))
      },
      Some(s"""WITH m AS (SELECT doc_id AS media_id, sha256(text) AS c
             |    FROM documents WHERE doc_id % 3 = 0
             |  UNION ALL SELECT doc_id + 99999, sha256(text)
             |    FROM documents WHERE doc_id % 3 = 0),
             |h AS (SELECT media_id,
             |    ${md5Int60Sql("c")} AS v
             |  FROM m)
             |SELECT l.media_id AS a, r.media_id AS b,
             |  bit_count(xor(l.v, r.v))::INT AS hamming
             |FROM h l JOIN h r ON l.media_id < r.media_id
             |WHERE bit_count(xor(l.v, r.v)) <= 3
             |ORDER BY 1, 2""".stripMargin)),

    // -- dedup: banded Hamming join vs an all-pairs oracle ---------------
    // Hash family with REAL nonzero distances: ids in groups of 8 share
    // an md5-60 base, each member XORs in its own low bit — intra-group
    // pairs sit at hamming 2 (or 0 on the same bit), cross-group pairs
    // are ~30 bits apart. The pigeonhole join must reproduce the
    // all-pairs scan exactly.
    "dedup_hamming" -> Gated(
      (s, d) => {
        val hashed = TestData.table(s, d, "embeddings")
          .select(col("vec_id"),
            Dedup.md5Hash60(expr("vec_id div 8").cast("string"))
              .bitwiseXOR(expr("shiftleft(1L, cast(vec_id % 8 as int))"))
              .as("h"))
        Dedup.hammingNearDup(hashed, maxDist = 3,
            hashCol = "h", idCol = "vec_id")
          .orderBy(col("a"), col("b"))
      },
      Some(s"""WITH h AS (SELECT vec_id,
             |    xor(${md5Int60Sql("(vec_id // 8)::VARCHAR")},
             |        1::BIGINT << (vec_id % 8)::INT) AS v
             |  FROM embeddings)
             |SELECT l.vec_id AS a, r.vec_id AS b,
             |  bit_count(xor(l.v, r.v))::INT AS hamming
             |FROM h l JOIN h r ON l.vec_id < r.vec_id
             |WHERE bit_count(xor(l.v, r.v)) <= 3
             |ORDER BY 1, 2""".stripMargin)),

    // -- curation: exact-N-per-stratum deterministic sample ---------------
    // Take exactly 30 'en' docs and 20 of every other language, ranked by
    // the seeded md5 fraction — the oracle rebuilds rank and fraction.
    "doc_take_exact" -> Gated(
      (s, d) => Sample.takeExact(TestData.table(s, d, "documents"),
        col("lang"), Map("en" -> 30), defaultN = 20, seed = "tk1")
        .select(col("doc_id"), col("stratum"))
        .orderBy(col("doc_id")),
      Some(s"""WITH f AS (SELECT doc_id, lang AS stratum,
             |    ${md5FracSql("doc_id::VARCHAR || 'tk1'")} AS frac
             |  FROM documents),
             |r AS (SELECT doc_id, stratum, row_number() OVER (
             |    PARTITION BY stratum ORDER BY frac, doc_id) AS rk
             |  FROM f)
             |SELECT doc_id, stratum FROM r
             |WHERE rk <= CASE stratum WHEN 'en' THEN 30 ELSE 20 END
             |ORDER BY 1""".stripMargin)),

    // -- dedup: SimHash near-dup — oracled under the md5-based feature
    // hash (xxhash64 has no DuckDB twin); the full bit-vote sketch, the
    // pigeonhole banding, and the Hamming filter are all exercised and
    // the oracle rebuilds the sketch bit for bit over all pairs ----------
    "doc_simhash" -> Gated(
      (s, d) => Dedup.simhashNearDup(TestData.table(s, d, "documents"),
        maxDist = 6, hashFn = Dedup.md5Hash60)
        .orderBy(col("a"), col("b")),
      Some(("""WITH toks AS (
             |  SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |hx AS (
             |  SELECT doc_id, list_transform(t, s ->
             |    """ + md5Int60Sql("s") + """) AS h
             |  FROM toks),
             |sh AS (
             |  SELECT doc_id, list_sum(list_transform(range(0, 60), b ->
             |    CASE WHEN 2 * list_sum(list_transform(h, x -> (x >> b) & 1))
             |              > len(h)
             |         THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS sig
             |  FROM hx)
             |SELECT a, b, hamming FROM (
             |  SELECT x.doc_id AS a, y.doc_id AS b,
             |    bit_count(xor(x.sig, y.sig))::INT AS hamming
             |  FROM sh x JOIN sh y ON x.doc_id < y.doc_id)
             |WHERE hamming <= 6 ORDER BY 1, 2""").stripMargin)),

    // -- similarity: embedding near-dup pairs (exact cosine) -------------
    "embed_neardup" -> Gated(
      (s, d) => Embed.nearDupExact(TestData.table(s, d, "embeddings"),
        threshold = 0.4)
        .orderBy(col("a"), col("b")),
      Some(embedNearDupOracle)),

    // -- similarity: near-dup via the hyperplane-LSH SCALE path ----------
    // Same oracle as the exact pair set: with 2 planes x 24 tables the
    // per-pair miss probability at cosine 0.4 is (1-0.398)^24 ~ 5e-6 —
    // recall 1 on the gated corpus by construction (the minhash-gate
    // argument). Candidates still come only from shared buckets.
    "embed_neardup_lsh" -> Gated(
      (s, d) => Embed.nearDupLsh(TestData.table(s, d, "embeddings"),
        threshold = 0.4, nPlanes = 2, tables = 24)
        .orderBy(col("a"), col("b")),
      Some(embedNearDupOracle)),

    // -- similarity: near-dup LSH in the SPARSE (100 TB) regime ----------
    // High threshold over the corpus + planted EXACT clones of vec_id<10:
    // only the clone pairs score >= 0.9 (max organic pair cosine is 0.60
    // at sf0.1), and identical vectors share every bucket key, so recall
    // is deterministic — while 16 planes x 8 tables keep the candidate
    // set a sliver of n^2/2 (LlmSpec asserts the count). This is the
    // regime the scale path actually runs in, unlike embed_neardup_lsh's
    // dense recall-1 verification gate.
    "embed_neardup_lsh_sparse" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val clones = emb.filter(col("vec_id") < 10)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
        Embed.nearDupLsh(emb.unionAll(clones),
          threshold = 0.9, nPlanes = 16, tables = 8)
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
             |u AS (SELECT vec_id, v FROM e UNION ALL
             |      SELECT vec_id + 100000, v FROM e WHERE vec_id < 10)
             |SELECT a, b, score FROM (
             |  SELECT x.vec_id AS a, y.vec_id AS b,
             |    round(list_cosine_similarity(x.v, y.v), 6) AS score
             |  FROM u x JOIN u y ON x.vec_id < y.vec_id)
             |WHERE score >= 0.9 ORDER BY 1, 2""".stripMargin)),

    // -- similarity: dup-family clusters from STAR edges ------------------
    // The embedding twin of doc_neardup_clusters_star: nearDupLshStar
    // emits one verified hub edge per bucket member (Θ(d) on a d-fold
    // family), and in the sparse high-threshold regime (planted exact
    // clones; no organic pair reaches 0.9) its components equal the
    // ground-truth clusters the oracle derives from the brute pair set.
    "embed_neardup_clusters_star" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val clones = emb.filter(col("vec_id") < 10)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
        Dedup.connectedComponents(
            Embed.nearDupLshStar(emb.unionAll(clones),
              threshold = 0.9, nPlanes = 16, tables = 8))
          .select(col("node").as("vec_id"), col("component"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH RECURSIVE e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
             |u AS (SELECT vec_id, v FROM e UNION ALL
             |      SELECT vec_id + 100000, v FROM e WHERE vec_id < 10),
             |pairs AS (
             |  SELECT a, b FROM (
             |    SELECT x.vec_id AS a, y.vec_id AS b,
             |      round(list_cosine_similarity(x.v, y.v), 6) AS score
             |    FROM u x JOIN u y ON x.vec_id < y.vec_id)
             |  WHERE score >= 0.9),
             |edges AS (
             |  SELECT a AS s, b AS t FROM pairs
             |  UNION SELECT b, a FROM pairs),
             |reach(s, t) AS (
             |  SELECT s, t FROM edges
             |  UNION
             |  SELECT r.s, e2.t FROM reach r JOIN edges e2 ON r.t = e2.s)
             |SELECT s AS vec_id, least(s, min(t)) AS component
             |FROM reach GROUP BY s ORDER BY 1""".stripMargin)),

    // -- similarity: brute-force cosine top-k ANN baseline ---------------
    "ann_topk" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val q = emb.filter(col("vec_id") === 7)
          .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
        Embed.topK(emb, q, k = 10)
      },
      Some(annTopKOracle)),

    // -- similarity: top-k via hyperplane-LSH bucket probing -------------
    // 2 planes x 32 tables: P(candidate missed) <= (1-0.35)^32 ~ 1e-6
    // even at cosine 0.29 (the weakest top-10 score in the corpus), so
    // the probe returns the exact brute-force top-10 on the gated data.
    "ann_topk_lsh" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val q = emb.filter(col("vec_id") === 7)
          .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
        Embed.topKLsh(emb, q, k = 10, nPlanes = 2, tables = 32)
      },
      Some(annTopKOracle)),

    // -- similarity: MMR diversity re-rank of the brute shortlist --------
    // distributed k*overscan shortlist, then the inherently-sequential
    // greedy over the bounded candidate set; the oracle replays the
    // greedy in a recursive CTE with a correlated argmax per step
    "ann_topk_mmr" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val q = emb.filter(col("vec_id") === 7)
          .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
        Embed.topKMmr(emb, q, k = 10, lambda = 0.7, overscan = 4)
          .orderBy(col("rank"))
      },
      Some("""WITH RECURSIVE e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |nz AS (SELECT * FROM e
             |  WHERE list_sum(list_transform(v, y -> y * y)) > 0),
             |cand AS MATERIALIZED (SELECT vec_id AS id, v,
             |    round(list_cosine_similarity(
             |      (SELECT v FROM e WHERE vec_id = 7), v), 6) AS rel
             |  FROM nz ORDER BY rel DESC, id ASC LIMIT 40),
             |sims AS MATERIALIZED (SELECT a.id AS i, b.id AS j,
             |    round(list_cosine_similarity(a.v, b.v), 6) AS s
             |  FROM cand a JOIN cand b ON a.id <> b.id),
             |sel AS (
             |  SELECT 1 AS rnk,
             |    [(SELECT id FROM cand ORDER BY rel DESC, id LIMIT 1)] AS ids
             |  UNION ALL
             |  SELECT rnk + 1, ids || [(
             |     SELECT c.id FROM cand c
             |     WHERE NOT list_contains(sel.ids, c.id)
             |     ORDER BY round(0.7 * c.rel - (1 - 0.7) *
             |        (SELECT max(s) FROM sims
             |         WHERE i = c.id AND list_contains(sel.ids, j)), 6)
             |       DESC, c.id
             |     LIMIT 1)]
             |  FROM sel WHERE rnk < 10),
             |ord AS (SELECT unnest(ids) AS vec_id,
             |    unnest(range(1, 11)) AS rank
             |  FROM sel WHERE rnk = 10)
             |SELECT o.vec_id, c.rel, o.rank::BIGINT AS rank
             |FROM ord o JOIN cand c ON c.id = o.vec_id
             |ORDER BY rank""".stripMargin)),

    // -- similarity: one distributed spherical k-means (Lloyd) step ------
    // IVF centroid training. Init = the first 4 vectors (normalized);
    // output = per-(cell, dimension) member means. Assignment runs on the
    // 6-decimal-rounded cosine with a deterministic tiebreak so the
    // argmax is reproducible against the double-math oracle.
    "embed_kmeans" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        Embed.kmeansStep(emb, init)
          .select(col("cell"), col("dim"), round(col("m"), 6).as("m"))
          .orderBy(col("cell"), col("dim"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id,
             |    list_transform(v, x ->
             |      x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
             |  FROM e),
             |init AS (SELECT vec_id::INT AS cid, u FROM n WHERE vec_id < 4),
             |assign AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT n.vec_id, init.cid,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY round(list_cosine_similarity(n.u, init.u), 6)
             |          DESC, init.cid DESC) AS rn
             |    FROM n CROSS JOIN init) WHERE rn = 1),
             |mem AS (SELECT a.cid AS cell, n.u FROM assign a JOIN n USING (vec_id))
             |SELECT cell, (i - 1)::INT AS dim, round(avg(u[i]), 6) AS m
             |FROM mem CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- similarity: top-k through the STORED partition-pruned IVF layout
    // (writeIvf -> ivf_cell partition dirs -> cell-predicate probe). The
    // gate probes ALL cells: this corpus is near-uniform random
    // directions, so no partial probe can guarantee brute-force recall
    // (a top-10 at cosine ~0.3 lands in cells uncorrelated with the
    // query) — the full probe keeps the oracle exact while still running
    // writeIvf + centroid assignment + the pruned-scan plumbing
    // end-to-end. The partial-probe property that matters at scale —
    // probing p cells reads ONLY those partition directories, and ranks
    // them exactly — is asserted in LlmSpec via inputFiles.
    "ann_topk_ivf" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val tmp = TestData.scratch("graft_ivf", d)
        Embed.writeIvf(emb, tmp, nCentroids = 16)
        val q = emb.filter(col("vec_id") === 7)
          .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
        Embed.topKIvfStored(s.read.parquet(tmp), q, k = 10,
          nCentroids = 16, nProbe = 16,
          trained = Some(Embed.readIvfCentroids(s, tmp)))
      },
      Some(annTopKOracle)),

    // -- similarity: PRUNED IVF probe (partition-pruning evidence) -------
    // The partial-probe complement of ann_topk_ivf: 2 of 4 cells through
    // the static `ivf_cell isin` partition filter, so the bench audit's
    // parts_read/parts_total row (2/4) is committed proof the cell
    // predicate prunes directories (VERDICT r9 #6). The layout is
    // written with the ROUNDED assignment from the pinned ivfCentroids
    // so cell membership replays in SQL, and the oracle rebuilds
    // assignment, probe selection, and the top-k over ONLY the probed
    // cells' members — exact for the pruned result by construction (no
    // recall assumption against the brute truth is needed).
    "ann_topk_ivf_pruned" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val tmp = TestData.scratch("graft_ivfp", d)
        Embed.writeIvf(emb, tmp, nCentroids = 4,
          centroids = Some(ivfCentroids(s, d)), rounded = true)
        val q = emb.filter(col("vec_id") === 7)
          .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
        Embed.topKIvfStored(s.read.parquet(tmp), q, k = 10,
          nCentroids = 4, nProbe = 2,
          trained = Some(Embed.readIvfCentroids(s, tmp)))
      },
      Some(prunedIvfOracle)),

    // -- similarity: INCREMENTAL IVF index maintenance -------------------
    // Index built from even vec_ids only, then the odd half folded in via
    // ivfUpdate — assignment with the layout's persisted centroids, pure
    // parquet append under the matching cell directories, no rebuild.
    // The probe (nProbe = all cells ⇒ exhaustive) must see both halves;
    // query vec 7 is in the UPDATED half, so a lost append can't pass.
    // Oracle: brute-force top-k over the full corpus.
    "embed_ivf_update" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val tmp = TestData.scratch("graft_ivfu", d)
        Embed.writeIvf(emb.filter(col("vec_id") % 2 === 0), tmp,
          nCentroids = 16)
        Embed.ivfUpdate(emb.filter(col("vec_id") % 2 =!= 0), tmp)
        val q = emb.filter(col("vec_id") === 7)
          .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
        Embed.topKIvfStored(s.read.parquet(tmp), q, k = 10,
          nCentroids = 16, nProbe = 16,
          trained = Some(Embed.readIvfCentroids(s, tmp)))
      },
      Some(annTopKOracle)),

    // -- similarity: BATCH brute-force retrieval --------------------------
    // Every % 101 == 0 vector queries the whole corpus at once: one
    // corpus scan serves the batch, per-query top-5 via a (query_id)
    // window. Oracle: per-query cross-join rank with the same rounded
    // cosine and tie order.
    "embed_topk_batch" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        Embed.topKBatch(
          emb.filter(col("vec_id") % 101 === 0)
            .select(col("vec_id").as("query_id"), col("embedding")),
          emb, k = 5)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some(batchTopKOracle)),

    // -- similarity: BATCH IVF retrieval over a stored layout -------------
    // Same query batch probed through a writeIvf layout with
    // nProbe = nCentroids (exhaustive ⇒ exact), so the brute-force
    // oracle applies; the probe-assignment/explode/equi-join machinery
    // (the 100 TB batch serving shape) is what's under test.
    "embed_topk_batch_ivf" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val tmp = TestData.scratch("graft_bivf", d)
        Embed.writeIvf(emb, tmp, nCentroids = 16)
        Embed.topKBatchIvf(
          emb.filter(col("vec_id") % 101 === 0)
            .select(col("vec_id").as("query_id"), col("embedding")),
          s.read.parquet(tmp), k = 5,
          centroids = Embed.readIvfCentroids(s, tmp), nProbe = 16)
          .orderBy(col("query_id"), col("score").desc, col("vec_id"))
      },
      Some(batchTopKOracle)),

    // -- similarity: product-quantization ADC top-k ----------------------
    // One deterministic-init Lloyd round per subspace (m=8, k=4), codes
    // from the trained books, ADC scores from the query's lookup table.
    // Trained codewords are rounded to 6 decimals on BOTH sides so the
    // avg() accumulation-order difference between engines can't drift a
    // downstream rounded comparison.
    "ann_topk_pq" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        val books0 = (0 until 8).map(sub =>
          init.map(_.slice(sub * 8, sub * 8 + 8)))
        val books = Embed.pqTrain(emb, m = 8, k = 4, iters = 1,
            init = Some(books0))
          .map(_.map(_.map(x =>
            BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        val q = emb.filter(col("vec_id") === 7)
          .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
        Embed.pqTopKAdc(Embed.pqEncode(emb, books), books, q, k = 10)
      },
      Some(annTopKPqOracle)),

    // -- similarity: two-stage PQ retrieval (ADC shortlist + exact) ------
    // The production pattern: shortlist 40 by ADC, re-rank those 40
    // exactly on the full vectors, serve the true top-10. Same pinned
    // books as ann_topk_pq; the oracle replays both stages.
    "ann_topk_pq_rerank" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        val books0 = (0 until 8).map(sub =>
          init.map(_.slice(sub * 8, sub * 8 + 8)))
        val books = Embed.pqTrain(emb, m = 8, k = 4, iters = 1,
            init = Some(books0))
          .map(_.map(_.map(x =>
            BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        val q = emb.filter(col("vec_id") === 7)
          .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
        Embed.pqTopKRerank(Embed.pqEncode(emb, books), emb, books, q,
          k = 10, overscan = 4)
      },
      Some(annTopKPqRerankOracle)),

    // -- similarity: ADC top-k through the STORED IVF-PQ layout ----------
    // Same pinned-init books as ann_topk_pq, coarse cells from the same
    // four init vectors, ALL cells probed (the ann_topk_ivf full-probe
    // rationale: this corpus is near-uniform, no partial probe can
    // guarantee recall) — so the result is EXACTLY the PQ oracle while
    // the gate still runs write -> sidecar quantizer round-trip ->
    // partition-pruned scan -> ADC end-to-end. The partial-probe
    // property (only probed directories read; no vector column in the
    // layout) is asserted in LlmSpec.
    "ann_topk_ivfpq" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        val books0 = (0 until 8).map(sub =>
          init.map(_.slice(sub * 8, sub * 8 + 8)))
        val books = Embed.pqTrain(emb, m = 8, k = 4, iters = 1,
            init = Some(books0))
          .map(_.map(_.map(x =>
            BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        val tmp = TestData.scratch("graft_ivfpq", d)
        Embed.writeIvfPq(emb, tmp, nCentroids = 4, m = 8, k = 4,
          centroids = Some(init), books = Some(books))
        val q = emb.filter(col("vec_id") === 7)
          .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
        Embed.topKIvfPqStored(s.read.parquet(tmp), q, k = 10, nProbe = 4,
          cents = Embed.readIvfCentroids(s, tmp),
          books = Embed.readPqBooks(s, tmp))
      },
      Some(annTopKPqOracle)),


    // -- similarity: SemDeDup (cluster-bucketed semantic dedup) ----------
    // Pinned centroids (vec_id < 4, the embed_kmeans convention) make
    // the cell assignment reproducible; survivors = corpus minus every
    // non-minimal member of a within-cluster cosine>=0.4 component. The
    // oracle rebuilds assign -> co-cell pairs -> reachability -> losers.
    "embed_semdedup" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        Embed.semDedup(emb, init, threshold = 0.4)
          .select(col("vec_id")).orderBy(col("vec_id"))
      },
      Some("""WITH RECURSIVE e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, list_transform(v, x ->
             |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
             |  FROM e),
             |init AS (SELECT vec_id::INT AS cid, u FROM n WHERE vec_id < 4),
             |assign AS (SELECT vec_id, cid FROM (
             |    SELECT n.vec_id, init.cid,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY round(list_cosine_similarity(n.u, init.u), 6)
             |          DESC, init.cid DESC) AS rn
             |    FROM n CROSS JOIN init) WHERE rn = 1),
             |pairs AS (SELECT ax.vec_id AS a, ay.vec_id AS b
             |  FROM assign ax JOIN assign ay
             |    ON ax.cid = ay.cid AND ax.vec_id < ay.vec_id
             |  JOIN e x ON x.vec_id = ax.vec_id
             |  JOIN e y ON y.vec_id = ay.vec_id
             |  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.4),
             |edges AS (SELECT a AS u, b AS v FROM pairs
             |  UNION SELECT b, a FROM pairs),
             |reach(u, v) AS (SELECT u, v FROM edges
             |  UNION SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u),
             |losers AS (SELECT u AS vec_id FROM reach
             |  GROUP BY u HAVING min(v) < u)
             |SELECT vec_id FROM e
             |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
             |ORDER BY vec_id""".stripMargin)),

    // -- similarity: SemDeDup in STAR form (dense-duplication path) ------
    // Same pinned centroids as embed_semdedup, but each cell verifies
    // members against its MIN-id hub only — Θ(|cell|) edges instead of
    // the within-cell clique, the form that survives replica-dense
    // corpora (the clique form emitted ~4B pairs at the 1000x
    // ScaleCheck and filled the disk). Star components are hub-rooted,
    // so the oracle needs no recursion: survivors = everything minus
    // members the hub absorbed.
    "embed_semdedup_star" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        Embed.semDedupStar(emb, init, threshold = 0.4)
          .select(col("vec_id")).orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, list_transform(v, x ->
             |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
             |  FROM e),
             |init AS (SELECT vec_id::INT AS cid, u FROM n WHERE vec_id < 4),
             |assign AS (SELECT vec_id, cid FROM (
             |    SELECT n.vec_id, init.cid,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY round(list_cosine_similarity(n.u, init.u), 6)
             |          DESC, init.cid DESC) AS rn
             |    FROM n CROSS JOIN init) WHERE rn = 1),
             |hubs AS (SELECT cid, min(vec_id) AS hub
             |  FROM assign GROUP BY cid),
             |losers AS (SELECT a.vec_id
             |  FROM assign a JOIN hubs h ON a.cid = h.cid
             |  JOIN e m ON m.vec_id = a.vec_id
             |  JOIN e x ON x.vec_id = h.hub
             |  WHERE a.vec_id <> h.hub
             |    AND round(list_cosine_similarity(m.v, x.v), 6) >= 0.4)
             |SELECT vec_id FROM e
             |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
             |ORDER BY vec_id""".stripMargin)),

    // -- curation: semantic decontamination (embedding space) ------------
    // Benchmark = every 29th vector; corpus rows within 0.4 cosine of
    // any benchmark vector drop. The bench side broadcasts; the oracle
    // is a NOT EXISTS over the same rounded cosine.
    "embed_decontaminate" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        Embed.semanticDecontaminate(
            emb.filter(col("vec_id") % 29 =!= 3),
            emb.filter(col("vec_id") % 29 === 3), threshold = 0.4)
          .select(col("vec_id")).orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings)
             |SELECT vec_id FROM e
             |WHERE vec_id % 29 <> 3 AND NOT EXISTS (
             |  SELECT 1 FROM e b WHERE b.vec_id % 29 = 3
             |    AND round(list_cosine_similarity(e.v, b.v), 6) >= 0.4)
             |ORDER BY 1""".stripMargin)),

    // -- curation: SSL-prototypes pruning (keep the hard examples) -------
    // Same pinned centroids as embed_semdedup; every vector's
    // prototypicality is its 6-decimal cosine to its assigned centroid,
    // and the 60% least prototypical of each cell survive. The oracle
    // replays assignment (argmax with the DESC-cid tie rule) and the
    // per-cell rank/count windows.
    "embed_prototype_prune" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        Embed.prototypePrune(emb, init, keepFrac = 0.6)
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, list_transform(v, x ->
             |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
             |  FROM e),
             |init AS (SELECT vec_id::INT AS cid, u FROM n WHERE vec_id < 4),
             |assign AS (SELECT vec_id, cid, score FROM (
             |    SELECT n.vec_id, init.cid,
             |      round(list_cosine_similarity(n.u, init.u), 6) AS score,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY round(list_cosine_similarity(n.u, init.u), 6)
             |          DESC, init.cid DESC) AS rn
             |    FROM n CROSS JOIN init) WHERE rn = 1),
             |ranked AS (SELECT vec_id, cid, score,
             |    row_number() OVER (PARTITION BY cid
             |      ORDER BY score ASC, vec_id ASC) AS rk,
             |    count(*) OVER (PARTITION BY cid) AS cnt
             |  FROM assign)
             |SELECT vec_id, cid AS cell, score AS proto FROM ranked
             |WHERE rk <= ceil(0.6 * cnt) ORDER BY 1""".stripMargin)),

    // -- similarity: int8 vector quantization (exact integer twin) -------
    "embed_quantize" -> Gated(
      (s, d) => TestData.table(s, d, "embeddings")
        .select(col("vec_id"), Embed.quantizeInt8(col("embedding")).as("qv"))
        .select(col("vec_id"), round(col("qv.scale"), 6).as("scale"),
          posexplode(col("qv.q")))
        .select(col("vec_id"), col("scale"), col("pos").cast("int").as("dim"),
          col("col").cast("int").as("qval"))
        .orderBy(col("vec_id"), col("dim")),
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |s AS (SELECT vec_id, v,
             |    list_max(list_transform(v, x -> abs(x))) AS scale FROM e)
             |SELECT vec_id, round(scale, 6) AS scale, (i - 1)::INT AS dim,
             |  (CASE WHEN scale = 0 THEN 0
             |        ELSE round(v[i] / scale * 127) END)::INT AS qval
             |FROM s CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
             |ORDER BY 1, 3""".stripMargin)),

    // -- full production path: events -> layout write -> pruned read -----
    // Exercises writeLayout (partition (metric, day), in-file (sname, ts)
    // sort) and readLayout's partition-pruned scan end-to-end; oracle
    // queries the original table directly.
    "layout_roundtrip" -> Gated(
      (s, d) => {
        val tmp = TestData.scratch("graft_layout_rt", d)
        graft.io.Ingest.writeLayout(
          TestData.events(s, d).samples
            .filter(col("metric") === "view") // the queried slice is what
            // the gate checks; writing all metrics only multiplies IO
            .select(col("metric"), col("tags"), col("ts"), col("value"),
              lit(null).cast("string").as("event")),
          tmp, flattenTags = Seq("user"))
        val st = graft.io.Ingest.readLayout(s, tmp)
        Planner.plan(QueryJson.parse(
          s"""{"select":"view","range":{"from":"$T0iso","to":"$T1iso"},
             |"where":{"user":["8","9"]},"order-by":"time"}""".stripMargin), st).df
          .orderBy(col("ts"), col("sname"), col("value"))
      },
      Some(s"""SELECT ${snameSql("event_type")} AS sname, $tsSql AS ts, value
              |FROM events WHERE event_type = 'view' AND ${rangeSql()}
              |  AND user_id IN (8, 9)
              |ORDER BY 2, 1, 3""".stripMargin)),

    // -- retention: oldest whole days evicted, reads = recent suffix -----
    // the reference's volume-rotation semantics (test_volume_overflow /
    // test_database_overflow: full volumes recycle, oldest data vanishes,
    // reads return the contiguous recent suffix) as explicit layout
    // eviction; cutoff on a day boundary makes suffix == ts >= cutoff
    "ts_retention" -> Gated(
      (s, d) => {
        val tmp = TestData.scratch("graft_layout_ret", d)
        graft.io.Ingest.writeLayout(
          TestData.events(s, d).samples
            .filter(col("metric") === "click")
            .select(col("metric"), col("tags"), col("ts"), col("value"),
              lit(null).cast("string").as("event")),
          tmp, flattenTags = Seq("user"))
        graft.io.Ingest.enforceRetentionBefore(
          s, tmp, AkuTime.parseTs("20240110T000000"))
        graft.io.Ingest.readLayout(s, tmp).samples
          .groupBy(expr(s"ts div ${Day}L").as("day"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 6).as("sum_v"))
          .orderBy(col("day"))
      },
      Some(s"""SELECT $tsSql // $Day AS day, count(*) AS n,
              |  round(sum(value), 6) AS sum_v
              |FROM events WHERE event_type = 'click'
              |  AND $tsSql >= ${AkuTime.parseTs("20240110T000000")}
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- retention by SIZE: "keep at most N bytes", oldest days evicted --
    // the reference's volume-ring cap is BYTES, not age
    // (test_volume_overflow.py: a fixed ring of volumes recycles oldest-
    // first when full). The gate sets the byte budget so the walk must
    // evict exactly the two oldest days — the require() pins the byte
    // accounting, the oracle pins what queries see afterwards (the
    // contiguous recent suffix, day-whole eviction)
    "ts_retention_bytes" -> Gated(
      (s, d) => {
        val tmp = TestData.scratch("graft_layout_retb", d)
        graft.io.Ingest.writeLayout(
          TestData.events(s, d).samples
            .filter(col("metric") === "click")
            .select(col("metric"), col("tags"), col("ts"), col("value"),
              lit(null).cast("string").as("event")),
          tmp, flattenTags = Seq("user"))
        val byDay = graft.io.Ingest.layoutDayBytes(s, tmp)
        require(byDay.size >= 3, s"need >=3 days, got ${byDay.size}")
        val budget = byDay.map(_._2).sum - byDay.take(2).map(_._2).sum
        val dropped = graft.io.Ingest.enforceRetention(s, tmp, budget)
        require(dropped == byDay.take(2).map(_._1),
          s"size eviction dropped $dropped, expected ${byDay.take(2).map(_._1)}")
        graft.io.Ingest.readLayout(s, tmp).samples
          .groupBy(expr(s"ts div ${Day}L").as("day"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 6).as("sum_v"))
          .orderBy(col("day"))
      },
      Some(s"""WITH days AS (SELECT DISTINCT $tsSql // $Day AS d
              |  FROM events WHERE event_type = 'click'),
              |cut AS (SELECT d FROM days ORDER BY d LIMIT 1 OFFSET 2)
              |SELECT $tsSql // $Day AS day, count(*) AS n,
              |  round(sum(value), 6) AS sum_v
              |FROM events WHERE event_type = 'click'
              |  AND $tsSql // $Day >= (SELECT d FROM cut)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- meta:names served from the MAINTAINED series dimension ----------
    // writeLayout + writeSeriesFromLayout, then readLayout attaches the
    // dimension: the metadata query is O(series), never a fact scan
    // (IngestSpec asserts the plan reads only the dimension parquet).
    "layout_meta_names" -> Gated(
      (s, d) => {
        val base = TestData.scratch("graft_layout_meta", d)
        graft.io.Ingest.writeLayout(
          TestData.events(s, d).samples
            .filter(col("metric") === "purchase")
            .select(col("metric"), col("tags"), col("ts"), col("value"),
              lit(null).cast("string").as("event")),
          base, flattenTags = Seq("user"))
        val series = TestData.scratch("graft_layout_meta_series", d)
        graft.io.Ingest.writeSeriesFromLayout(s, base, series)
        val st = graft.io.Ingest.readLayout(s, base, Some(series))
        Planner.plan(QueryJson.parse(
          s"""{"select":"meta:names","where":{"user":["4","5","6"]}}"""), st).df
      },
      Some(s"""SELECT DISTINCT ${snameSql("event_type")} AS sname FROM events
              |WHERE event_type = 'purchase' AND user_id IN (4, 5, 6)
              |ORDER BY 1""".stripMargin)),

    // -- ingestion: RESP protocol parse (data-point + row + dictionary) --
    "ingest_resp" -> Gated(
      (s, d) => {
        val doc =
          """*2
            |+cpu.real|cpu.user host=m1
            |:1
            |+mem host=m1
            |:1418197423000000000
            |:512
            |:1
            |+20141210T074343
            |*2
            |+3.12
            |+8.11
            |+mem host=m2
            |+20141210T074344.5
            |:256""".stripMargin
        import s.implicits._
        val parsed = graft.io.LineProtocol.parseResp(doc.linesIterator).toSeq
        s.createDataset(parsed).toDF()
          .select(
            concat(col("metric"), lit(" host="), col("tags")("host")).as("sname"),
            col("ts"), col("value"))
          .orderBy(col("sname"), col("ts"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('cpu.real host=m1', 1418197423000000000, 3.12),
             |  ('cpu.user host=m1', 1418197423000000000, 8.11),
             |  ('mem host=m1',      1418197423000000000, 512.0),
             |  ('mem host=m2',      1418197424500000000, 256.0))
             |  t(sname, ts, value)
             |ORDER BY 1, 2""".stripMargin)),

    // -- ingestion: OpenTSDB telnet put parse ----------------------------
    "ingest_opentsdb" -> Gated(
      (s, d) => {
        val doc = Seq(
          "put cpu.real 1418197423 3.12 host=m1 region=NW",
          "put cpu.real 20141210T074344 4.5 host=m1 region=NW",
          "put mem 1418197423999999999 256 host=m2")
        import s.implicits._
        val parsed = doc.flatMap(graft.io.LineProtocol.parseOpenTsdb)
        s.createDataset(parsed).toDF()
          .select(
            concat(col("metric"), lit(" host="), col("tags")("host")).as("sname"),
            col("ts"), col("value"))
          .orderBy(col("sname"), col("ts"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('cpu.real host=m1', 1418197423000000000, 3.12),
             |  ('cpu.real host=m1', 1418197424000000000, 4.5),
             |  ('mem host=m2',      1418197423999999999, 256.0))
             |  t(sname, ts, value)
             |ORDER BY 1, 2""".stripMargin)),

    // -- event-relational operators: as-of / range join / sessionize -----
    // (EventOps — operators the reference lacks; DuckDB ASOF JOIN and
    // window replays are the oracles)
    "ts_asof_join" -> Gated(
      (s, d) => {
        val ev = TestData.eventsRaw(s, d)
        val l = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"))
        val r = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        EventOps.asOf(l, r, Seq("user_id"), "ts", "value",
            toleranceNs = Some(2 * Day))
          .orderBy(col("user_id"), col("ts"), col("value"))
      },
      Some(s"""WITH l AS (SELECT user_id, ts, value FROM events
              |  WHERE event_type = 'click'),
              |r0 AS (SELECT user_id, ts, max(value) AS v FROM events
              |  WHERE event_type = 'purchase' GROUP BY 1, 2),
              |j AS (
              |  SELECT l.user_id, epoch_ns(l.ts) AS ts, l.value,
              |         r0.v AS vr, epoch_ns(r0.ts) AS tsr
              |  FROM l ASOF LEFT JOIN r0
              |    ON l.user_id = r0.user_id AND l.ts >= r0.ts)
              |SELECT user_id, ts, value,
              |  CASE WHEN ts - tsr <= ${2 * Day} THEN vr END AS value_r,
              |  CASE WHEN ts - tsr <= ${2 * Day} THEN tsr END AS ts_r
              |FROM j ORDER BY 1, 2, 3""".stripMargin)),

    "ts_range_join" -> Gated(
      (s, d) => {
        val ev = TestData.eventsRaw(s, d)
        val l = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"))
        val r = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("value"))
        EventOps.rangeJoin(l, r, Seq("user_id"), "ts",
            lowerNs = -H6, upperNs = 0L, rightCols = Seq("value"))
          .orderBy(col("user_id"), col("ts"), col("value"),
            col("ts_r"), col("value_r"))
      },
      Some(s"""WITH l AS (SELECT user_id, ts, value FROM events
              |  WHERE event_type = 'click'),
              |r AS (SELECT user_id, ts, value FROM events
              |  WHERE event_type = 'view')
              |SELECT l.user_id, epoch_ns(l.ts) AS ts, l.value,
              |       epoch_ns(r.ts) AS ts_r, r.value AS value_r
              |FROM l JOIN r ON l.user_id = r.user_id
              |  AND epoch_ns(r.ts) BETWEEN epoch_ns(l.ts) - $H6
              |                         AND epoch_ns(l.ts)
              |ORDER BY 1, 2, 3, 4, 5""".stripMargin)),

    "ts_sessionize" -> Gated(
      (s, d) => {
        val ev = TestData.eventsRaw(s, d)
        val l = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"))
        val sess = EventOps.sessionize(l, Seq("user_id"), "ts", gapNs = H6)
        EventOps.sessionStats(sess, Seq("user_id"), "ts", "value")
          .select(col("user_id"), col("session_id"),
            col("session_start"), col("session_end"), col("n_events"),
            round(col("value_sum"), 6).as("value_sum"))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some(s"""WITH l AS (SELECT user_id, epoch_ns(ts) AS t, value
              |  FROM events WHERE event_type = 'click'),
              |m AS (SELECT user_id, t, value,
              |    CASE WHEN lag(t) OVER w IS NULL
              |           OR t - lag(t) OVER w > $H6 THEN 1 ELSE 0 END AS nw
              |  FROM l WINDOW w AS (PARTITION BY user_id ORDER BY t)),
              |s AS (SELECT user_id, t, value,
              |    sum(nw) OVER (PARTITION BY user_id ORDER BY t
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              |  FROM m)
              |SELECT user_id,
              |  user_id::VARCHAR || '#' || sid::VARCHAR AS session_id,
              |  min(t) AS session_start, max(t) AS session_end,
              |  count(*) AS n_events, round(sum(value), 6) AS value_sum
              |FROM s GROUP BY 1, 2 ORDER BY 1, 3""".stripMargin)),

    // -- token-budget selection (greedy by priority until cost budget) ---
    "doc_take_budget" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
          .select(col("doc_id"), col("n_chars"))
        Sample.takeBudget(docs, col("n_chars"),
            pmod(col("doc_id") * 37, lit(101)), budget = 100000L,
            idCol = "doc_id")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, n_chars,
             |    (doc_id * 37) % 101 AS p FROM documents),
             |c AS (SELECT doc_id, n_chars,
             |    sum(n_chars) OVER (ORDER BY p DESC, doc_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM t)
             |SELECT doc_id, n_chars FROM c WHERE cum <= 100000
             |ORDER BY 1""".stripMargin)),

    // -- distinct-count: deterministic theta sketch (SURVEY §2.8 delta) --
    // distinct users per metric; the md5-hash filter drops (1-theta) of
    // rows before the only shuffle, and the estimate replays exactly in
    // the oracle (no engine-private HLL layout)
    "ts_distinct_theta" -> Gated(
      (s, d) => TsAnalytics.thetaDistinct(
          TestData.events(s, d).samples,
          Seq("metric"), element_at(col("tags"), "user"), theta = 0.25)
        .withColumn("distinct_est", round(col("distinct_est"), 4))
        .orderBy(col("metric")),
      Some(s"""WITH t AS (SELECT event_type AS metric,
              |    user_id::VARCHAR AS item FROM events),
              |f AS (SELECT metric, item FROM t
              |  WHERE ${md5FracSql("item")} < 0.25)
              |SELECT metric, count(DISTINCT item) AS n_kept,
              |  round(count(DISTINCT item) / 0.25, 4) AS distinct_est
              |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- grouping sets: rollup over (metric, k) (SURVEY §2.8 delta) ------
    // one Expand + one partial-aggregate pass; gid is the SQL-standard
    // GROUPING bitmask both engines share
    "ts_rollup_agg" -> Gated(
      (s, d) => TsAnalytics.rollupAgg(
          TestData.events(s, d).samples,
          Seq("metric" -> col("metric"),
            "k" -> element_at(col("tags"), "k")),
          col("value"))
        .select(col("metric"), col("k"), col("gid").cast("long").as("gid"),
          col("n"), round(col("value_sum"), 4).as("value_sum"),
          round(col("value_avg"), 6).as("value_avg"))
        .orderBy(col("gid"), col("metric").asc_nulls_first,
          col("k").asc_nulls_first),
      Some(s"""WITH t AS (SELECT event_type AS metric,
              |    ($kSql)::VARCHAR AS k, value FROM events)
              |SELECT metric, k, GROUPING(metric, k)::BIGINT AS gid,
              |  count(value) AS n, round(sum(value), 4) AS value_sum,
              |  round(avg(value), 6) AS value_avg
              |FROM t GROUP BY ROLLUP(metric, k)
              |ORDER BY 3, 1 ASC NULLS FIRST, 2 ASC NULLS FIRST""".stripMargin)),

    // -- ranking windows: top-3 series per metric (SURVEY §2.8 delta) ----
    // aggregate first (map-side partial over the fact table), rank the
    // small per-series frame second — the window never sees raw samples
    "ts_rank_series" -> Gated(
      (s, d) => {
        val withS = TestData.events(s, d).samples
          .select(col("metric"), col("sname"), col("value"))
        TsAnalytics.topKPerGroup(withS, "metric", "sname", col("value"), 3)
          .select(col("metric"), col("sname"),
            round(col("value_sum"), 4).as("value_sum"),
            col("rnk").cast("long").as("rnk"))
          .orderBy(col("metric"), col("rnk"))
      },
      Some(s"""WITH t AS (SELECT event_type AS metric,
              |    ${snameSql("event_type")} AS sname, value FROM events),
              |a AS (SELECT metric, sname, sum(value) AS vs
              |  FROM t GROUP BY 1, 2),
              |r AS (SELECT metric, sname, round(vs, 4) AS value_sum,
              |  row_number() OVER (PARTITION BY metric
              |    ORDER BY vs DESC, sname ASC) AS rnk FROM a)
              |SELECT metric, sname, value_sum, rnk FROM r
              |WHERE rnk <= 3 ORDER BY 1, 4""".stripMargin)),

    // -- dedup: Bloom-filter membership against a seen corpus ------------
    // the bitset (not a fingerprint table) rides to tasks with the plan;
    // kept docs are DEFINITELY new, the oracle replays the md5-derived
    // bit positions exactly
    "doc_dedup_bloom" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val seen = docs.filter(col("doc_id") % 5 === 0)
        Dedup.dedupBloom(docs, seen, mBits = 1 << 16, kHashes = 4)
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some {
        val key = md5Int60Sql("text")
        def pos(v: String) = md5Int60Sql(
          s"($key)::VARCHAR || '#' || j::VARCHAR", v) + " % 65536"
        s"""WITH rp AS (SELECT DISTINCT ${pos("x")} AS pr
           |  FROM documents, range(4) t(j) WHERE doc_id % 5 = 0),
           |cp AS (SELECT doc_id, ${pos("y")} AS p
           |  FROM documents, range(4) t(j))
           |SELECT doc_id FROM cp LEFT JOIN rp ON cp.p = rp.pr
           |GROUP BY doc_id HAVING bool_or(rp.pr IS NULL)
           |ORDER BY 1""".stripMargin
      }),

    // -- session windows via Spark's NATIVE session_window ---------------
    // same gap semantics as ts_sessionize, but one groupBy aggregate
    // (UpdatingSessions merge, no window-function pass) — the shape that
    // also runs under Structured Streaming with a watermark
    "ts_session_window" -> Gated(
      (s, d) => {
        val ev = TestData.eventsRaw(s, d)
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"))
        EventOps.sessionWindowAgg(ev, Seq("user_id"), "ts", "6 hours",
            col("value"))
          .withColumn("value_sum", round(col("value_sum"), 6))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some(s"""WITH l AS (SELECT user_id, epoch_ns(ts) AS t, value
              |  FROM events WHERE event_type = 'click'),
              |m AS (SELECT user_id, t, value,
              |    CASE WHEN lag(t) OVER w IS NULL
              |           OR t - lag(t) OVER w > $H6 THEN 1 ELSE 0 END AS nw
              |  FROM l WINDOW w AS (PARTITION BY user_id ORDER BY t)),
              |s AS (SELECT user_id, t, value,
              |    sum(nw) OVER (PARTITION BY user_id ORDER BY t
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              |  FROM m)
              |SELECT user_id, min(t) AS session_start,
              |  max(t) AS session_end, count(*) AS n_events,
              |  round(sum(value), 6) AS value_sum
              |FROM s GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin)),

    // -- corpus distribution report: exact per-source length quantiles ---
    // exact percentile (linear interpolation, the quantile_cont
    // definition) — replayable externally, unlike approx_percentile's
    // engine-private sketch
    "doc_length_quantiles" -> Gated(
      (s, d) => Text.lengthQuantiles(
          TestData.table(s, d, "documents"),
          Seq("source"), col("n_chars"), Seq(0.5, 0.9, 0.99))
        .orderBy(col("source")),
      Some("""SELECT source, count(n_chars) AS n,
             |  round(quantile_cont(n_chars, 0.5), 6) AS p50,
             |  round(quantile_cont(n_chars, 0.9), 6) AS p90,
             |  round(quantile_cont(n_chars, 0.99), 6) AS p99
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- retrieval: BM25 top-k over the corpus ---------------------------
    // explode filtered to query terms BEFORE the tf aggregation; df
    // broadcasts; final top-k is a TakeOrdered
    "doc_bm25" -> Gated(
      (s, d) => Text.bm25Search(TestData.table(s, d, "documents"),
          Seq("spark", "vector", "merge"), k = 10)
        .orderBy(col("rank")),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split_regex(
             |    trim(lower(text)), '\s+')) AS term FROM documents),
             |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             |  WHERE term IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
             |df AS (SELECT term, count(DISTINCT doc_id) AS df
             |  FROM tf GROUP BY 1),
             |s AS (SELECT tf.doc_id,
             |    ln(1 + ((SELECT count(*) FROM documents) - df.df + 0.5)
             |      / (df.df + 0.5)) * tf.tf * 2.2
             |    / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len
             |      / (SELECT avg(len) FROM lens))) AS s
             |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id)),
             |sc AS (SELECT doc_id, round(sum(s), 6) AS score
             |  FROM s GROUP BY 1)
             |SELECT doc_id, score, row_number() OVER (
             |  ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
             |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // -- contrastive curation: hard-negative mining ----------------------
    // broadcast query batch, one narrow corpus pass, per-query top-k of
    // different-label neighbors
    "ann_hard_negatives" -> Gated(
      (s, d) => Embed.hardNegatives(TestData.table(s, d, "embeddings"),
          Seq(1L, 2L, 3L), k = 5)
        .orderBy(col("qid"), col("rnk")),
      Some("""WITH e AS (SELECT vec_id, label,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
             |  FROM e WHERE vec_id IN (1, 2, 3)),
             |s AS (SELECT q.qid, e.vec_id AS neg_id, e.label,
             |    round(list_cosine_similarity(e.v, q.qv), 6) AS score
             |  FROM e, q WHERE e.label <> q.qlabel),
             |r AS (SELECT qid, neg_id, label, score, row_number() OVER (
             |    PARTITION BY qid ORDER BY score DESC, neg_id ASC)::BIGINT
             |    AS rnk FROM s)
             |SELECT qid, neg_id, label, score, rnk FROM r
             |WHERE rnk <= 5 ORDER BY 1, 5""".stripMargin)),

    // -- time-bucket quantiles: p50/p95 per metric per day ---------------
    // exact percentile per (metric, day) — the rollup the reference can
    // only approximate with min/max
    "ts_bucket_quantiles" -> Gated(
      (s, d) => TsAnalytics.bucketQuantiles(
          TestData.events(s, d).samples,
          Seq("metric"), "ts", "value", bucketNs = Day, Seq(0.5, 0.95))
        .orderBy(col("metric"), col("bucket")),
      Some(s"""SELECT event_type AS metric,
              |  (epoch_ns(ts) // $Day) * $Day AS bucket,
              |  count(value) AS n,
              |  round(quantile_cont(value, 0.5), 6) AS p50,
              |  round(quantile_cont(value, 0.95), 6) AS p95
              |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- gap-fill: linear-interpolation resample to a daily grid ---------
    // the interpolation the reference explicitly lacks; grid + samples
    // share ONE window partition per series (no per-point range join)
    "ts_resample" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .filter(col("metric") === "click")
          .select(element_at(col("tags"), "user").as("user"),
            element_at(col("tags"), "k").as("k"),
            col("ts"), col("value"))
        TsAnalytics.resampleLinear(ev, Seq("user", "k"), "ts", "value",
            stepNs = Day, fromNs = T0, toNs = T1)
          .orderBy(col("user"), col("k"), col("ts"))
      },
      Some(s"""WITH s0 AS (SELECT user_id::VARCHAR AS user,
              |    ($kSql)::VARCHAR AS k, epoch_ns(ts) AS t, value
              |  FROM events WHERE event_type = 'click'),
              |agg AS (SELECT user, k, t, max(value) AS v
              |  FROM s0 GROUP BY 1, 2, 3),
              |series AS (SELECT DISTINCT user, k FROM s0),
              |grid AS (SELECT user, k,
              |    unnest(range($T0, $T1, $Day)) AS gt FROM series),
              |p AS (SELECT g.user, g.k, g.gt, pr.t AS pt, pr.v AS pv
              |  FROM grid g ASOF LEFT JOIN agg pr
              |    ON g.user = pr.user AND g.k = pr.k AND g.gt >= pr.t),
              |pn AS (SELECT p.*, nx.t AS nt, nx.v AS nv
              |  FROM p ASOF LEFT JOIN agg nx
              |    ON p.user = nx.user AND p.k = nx.k AND p.gt <= nx.t)
              |SELECT user, k, gt AS ts,
              |  round(CASE WHEN pt = gt THEN pv
              |    WHEN pt IS NOT NULL AND nt IS NOT NULL THEN
              |      pv + (nv - pv) * (gt - pt) / (nt - pt)
              |    END, 6) AS value
              |FROM pn ORDER BY 1, 2, 3""".stripMargin)),

    // -- LOCF gap-fill with staleness bound (the resample sibling) -------
    // same grid+carry shape as ts_resample but forward-only, and a sample
    // older than 2 days reads as missing, not frozen
    "ts_fill_forward" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .filter(col("metric") === "click")
          .select(element_at(col("tags"), "user").as("user"),
            element_at(col("tags"), "k").as("k"),
            col("ts"), col("value"))
        TsAnalytics.fillForward(ev, Seq("user", "k"), "ts", "value",
            stepNs = Day, fromNs = T0, toNs = T1, maxAgeNs = 2 * Day)
          .orderBy(col("user"), col("k"), col("ts"))
      },
      Some(s"""WITH s0 AS (SELECT user_id::VARCHAR AS user,
              |    ($kSql)::VARCHAR AS k, epoch_ns(ts) AS t, value
              |  FROM events WHERE event_type = 'click'
              |    AND value IS NOT NULL),
              |agg AS (SELECT user, k, t, max(value) AS v
              |  FROM s0 GROUP BY 1, 2, 3),
              |series AS (SELECT DISTINCT user, k FROM s0),
              |grid AS (SELECT user, k,
              |    unnest(range($T0, $T1, $Day)) AS gt FROM series),
              |p AS (SELECT g.user, g.k, g.gt, pr.t AS pt, pr.v AS pv
              |  FROM grid g ASOF LEFT JOIN agg pr
              |    ON g.user = pr.user AND g.k = pr.k AND g.gt >= pr.t)
              |SELECT user, k, gt AS ts,
              |  round(CASE WHEN pt IS NOT NULL AND gt - pt <= ${2 * Day}
              |    THEN pv END, 6) AS value,
              |  CASE WHEN pt IS NOT NULL AND gt - pt <= ${2 * Day}
              |    THEN gt - pt END AS age_ns
              |FROM p ORDER BY 1, 2, 3""".stripMargin)),

    // -- Bollinger-band breakout alerts (time-RANGE window) --------------
    // band edges from pre-rounded mean/sd, sample rounded before the
    // comparison — the smaCross discipline, so the alert set replays
    "ts_bollinger" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .select(col("metric"),
            element_at(col("tags"), "user").as("user"),
            col("ts"), col("value"))
        TsAnalytics.bollingerBreakouts(ev, Seq("metric", "user"),
            "ts", "value", windowNs = 14 * Day, nSigma = 1.5, minN = 5)
          .orderBy(col("metric"), col("user"), col("ts"), col("value"))
      },
      Some(s"""WITH t AS (SELECT event_type AS metric,
              |    user_id::VARCHAR AS user, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |b AS (SELECT metric, user, t, value,
              |    round(avg(value) OVER w, 6) AS mid,
              |    round(stddev_pop(value) OVER w, 6) AS sd,
              |    count(*) OVER w AS n
              |  FROM t WINDOW w AS (PARTITION BY metric, user ORDER BY t
              |    RANGE BETWEEN ${14 * Day - 1} PRECEDING AND CURRENT ROW)),
              |c AS (SELECT *, mid + 1.5 * sd AS upper,
              |    mid - 1.5 * sd AS lower, round(value, 6) AS v6
              |  FROM b)
              |SELECT metric, user, t AS ts, v6 AS value, mid, upper,
              |  lower, CASE WHEN v6 > upper THEN 'up' ELSE 'down' END
              |    AS direction
              |FROM c WHERE n >= 5 AND (v6 > upper OR v6 < lower)
              |ORDER BY 1, 2, 3, 4""".stripMargin)),

    // -- robust outliers: median absolute deviation per series -----------
    "ts_outlier_mad" -> Gated(
      (s, d) => {
        val withS = TestData.events(s, d).samples
          .select(col("metric"), col("sname"), col("ts"), col("value"))
        TsAnalytics.madOutliers(withS, Seq("metric", "sname"),
            "ts", "value", k = 3.0)
          .orderBy(col("metric"), col("sname"), col("ts"), col("value"))
      },
      Some(s"""WITH t AS (SELECT event_type AS metric,
              |    ${snameSql("event_type")} AS sname, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |m AS (SELECT metric, sname,
              |    round(quantile_cont(value, 0.5), 6) AS med
              |  FROM t GROUP BY 1, 2),
              |d AS (SELECT t.*, m.med, abs(t.value - m.med) AS dev
              |  FROM t JOIN m USING (metric, sname)),
              |md AS (SELECT metric, sname,
              |    round(quantile_cont(dev, 0.5), 6) AS mad
              |  FROM d GROUP BY 1, 2)
              |SELECT d.metric, d.sname, d.t AS ts, d.value, d.med, md.mad
              |FROM d JOIN md USING (metric, sname)
              |WHERE round(dev, 6) > round(3 * 1.4826 * mad, 6)
              |ORDER BY 1, 2, 3, 4""".stripMargin)),

    // -- SAX motif mining: recurring symbolic windows per metric ---------
    // width-4 windows over alphabet 3; cut literals interpolated from the
    // engine's OWN cutpoints (Double.toString round-trips, so DuckDB
    // parses the identical doubles)
    "ts_sax_motifs" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .select(col("metric"), col("ts"), col("value"))
        TsAnalytics.saxMotifs(ev, Seq("metric"), "ts", "value",
            width = 4, alphabet = 3, minCount = 2)
          .orderBy(col("metric"), col("word"))
      },
      Some {
        val cuts = graft.functions.Sax.cutpoints(3)
        s"""WITH agg AS (SELECT event_type AS metric, $tsSql AS t,
           |    max(value) AS v
           |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
           |rn AS (SELECT metric, t, v, row_number()
           |    OVER (PARTITION BY metric ORDER BY t) - 1 AS rn
           |  FROM agg),
           |wins AS (SELECT metric, t, v, rn // 4 AS win, rn % 4 AS pos
           |  FROM rn),
           |stats AS MATERIALIZED (SELECT metric, win, count(*) AS n,
           |    round(avg(v), 6) AS mean, round(stddev_samp(v), 6) AS sd,
           |    min(t) AS wts
           |  FROM wins GROUP BY 1, 2 HAVING count(*) = 4),
           |z AS (SELECT w.metric, w.win, w.pos, s.wts,
           |    round(CASE WHEN s.sd IS NULL OR s.sd <= 0 THEN w.v - s.mean
           |      ELSE (w.v - s.mean) / s.sd END, 6) AS z
           |  FROM wins w JOIN stats s USING (metric, win)),
           |let AS (SELECT metric, win, pos, wts,
           |    CASE WHEN z < ${cuts(0)} THEN 'a'
           |         WHEN z < ${cuts(1)} THEN 'b' ELSE 'c' END AS l
           |  FROM z),
           |words AS (SELECT metric, win, min(wts) AS wts,
           |    string_agg(l, '' ORDER BY pos) AS word
           |  FROM let GROUP BY 1, 2)
           |SELECT metric, word, count(*) AS n, min(wts) AS first_ts,
           |  max(wts) AS last_ts
           |FROM words GROUP BY 1, 2 HAVING count(*) >= 2
           |ORDER BY 1, 2""".stripMargin
      }),

    // -- time x value heatmap: the 2-D histogram behind heat panels ------
    // bin edges from per-metric observed min/max; identical IEEE bin
    // expression on both engines, cell count bounded by
    // metrics x days x bins
    "ts_heatmap" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .select(col("metric"), col("ts"), col("value"))
        TsAnalytics.timeValueHeatmap(ev, Seq("metric"), "ts", "value",
            bucketNs = Day, nBins = 10)
          .orderBy(col("metric"), col("bucket"), col("bin"))
      },
      Some(s"""WITH t AS (SELECT event_type AS metric, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |r AS MATERIALIZED (SELECT metric, min(value) AS lo,
              |    max(value) AS hi FROM t GROUP BY 1)
              |SELECT t.metric, (t.t // $Day) * $Day AS bucket,
              |  CASE WHEN r.hi > r.lo THEN least(9,
              |    floor((t.value - r.lo) * 10 / (r.hi - r.lo))::INT)
              |    ELSE 0 END AS bin,
              |  round(r.lo + (r.hi - r.lo) / 10 *
              |    (CASE WHEN r.hi > r.lo THEN least(9,
              |      floor((t.value - r.lo) * 10 / (r.hi - r.lo))::INT)
              |      ELSE 0 END), 6) AS bin_lo,
              |  round(r.lo + (r.hi - r.lo) / 10 *
              |    (CASE WHEN r.hi > r.lo THEN least(9,
              |      floor((t.value - r.lo) * 10 / (r.hi - r.lo))::INT)
              |      ELSE 0 END + 1), 6) AS bin_hi,
              |  count(*) AS n
              |FROM t JOIN r USING (metric)
              |GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2, 3""".stripMargin)),

    // -- embedding drift: per-cell centroid movement between halves ------
    // same pinned vec_id<4 init as embed_kmeans; even/odd vec_id slices
    // stand in for old-crawl/new-crawl
    "embed_centroid_drift" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        Embed.centroidDrift(emb.filter(col("vec_id") % 2 === 0),
            emb.filter(col("vec_id") % 2 === 1), init)
          .orderBy(col("cell"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |n AS MATERIALIZED (SELECT vec_id,
             |    list_transform(v, x ->
             |      x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
             |  FROM e),
             |init AS MATERIALIZED (SELECT vec_id::INT AS cid, u FROM n
             |  WHERE vec_id < 4),
             |assign AS MATERIALIZED (
             |  SELECT vec_id, cid FROM (
             |    SELECT n.vec_id, init.cid,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY round(list_cosine_similarity(n.u, init.u), 6)
             |          DESC, init.cid DESC) AS rn
             |    FROM n CROSS JOIN init) WHERE rn = 1),
             |ca AS MATERIALIZED (SELECT a.cid AS cell, (i - 1)::INT AS dim,
             |    round(avg(u[i]), 6) AS ma
             |  FROM assign a JOIN n USING (vec_id)
             |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
             |  WHERE vec_id % 2 = 0 GROUP BY 1, 2),
             |cb AS MATERIALIZED (SELECT a.cid AS cell, (i - 1)::INT AS dim,
             |    round(avg(u[i]), 6) AS mb
             |  FROM assign a JOIN n USING (vec_id)
             |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
             |  WHERE vec_id % 2 = 1 GROUP BY 1, 2)
             |SELECT cell, count(*) AS n_dims,
             |  round(sum(ma * mb) / sqrt(sum(ma * ma) * sum(mb * mb)), 6)
             |    AS cos_drift,
             |  round(sqrt(sum((ma - mb) * (ma - mb))), 6) AS l2_drift
             |FROM ca JOIN cb USING (cell, dim)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- histogram-interpolated quantiles: the bounded-state percentile --
    // Prometheus histogram_quantile semantics over the heatmap cells;
    // nBins counts per cell regardless of sample count — the percentile
    // shape that survives a 100 TB group (exact percentiles buffer values)
    "ts_histogram_quantile" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .select(col("metric"), col("ts"), col("value"))
        TsAnalytics.histogramQuantile(ev, Seq("metric"), "ts", "value",
            bucketNs = Day, nBins = 20, probs = Seq(0.5, 0.95, 0.99))
          .orderBy(col("metric"), col("bucket"), col("prob"))
      },
      Some(s"""WITH t AS (SELECT event_type AS metric, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |r AS MATERIALIZED (SELECT metric, min(value) AS lo,
              |    max(value) AS hi FROM t GROUP BY 1),
              |cells AS (SELECT t.metric, (t.t // $Day) * $Day AS bucket,
              |    CASE WHEN r.hi > r.lo THEN least(19,
              |      floor((t.value - r.lo) * 20 / (r.hi - r.lo))::INT)
              |      ELSE 0 END AS bin,
              |    count(*) AS nb, any_value(r.lo) AS lo,
              |    any_value(r.hi) AS hi
              |  FROM t JOIN r USING (metric) GROUP BY 1, 2, 3),
              |cum AS (SELECT *,
              |    sum(nb) OVER (PARTITION BY metric, bucket
              |      ORDER BY bin) AS cum,
              |    sum(nb) OVER (PARTITION BY metric, bucket) AS N
              |  FROM cells),
              |p AS (SELECT * FROM cum
              |  CROSS JOIN (SELECT unnest(
              |    [0.5::DOUBLE, 0.95::DOUBLE, 0.99::DOUBLE]) AS prob))
              |SELECT metric, bucket, prob, N AS n,
              |  lo + (hi - lo) / 20 * bin +
              |    (prob * N - (cum - nb)) / nb * ((hi - lo) / 20) AS est
              |FROM p WHERE prob * N > cum - nb AND prob * N <= cum
              |ORDER BY 1, 2, 3""".stripMargin)),

    // -- largest-triangle chart downsampling (bucket-average anchors) ----
    // ~40 visually-representative points per series; endpoint buckets
    // keep the chart endpoints
    "ts_downsample_lttb" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .filter(col("metric") === "click")
          .select(element_at(col("tags"), "user").as("user"),
            col("ts"), col("value"))
        TsAnalytics.downsampleLttb(ev, Seq("user"), "ts", "value",
            buckets = 40)
          .orderBy(col("user"), col("bucket"))
      },
      Some(s"""WITH s0 AS (SELECT user_id::VARCHAR AS user, $tsSql AS t,
              |    value FROM events
              |  WHERE event_type = 'click' AND value IS NOT NULL),
              |agg AS (SELECT user, t, max(value) AS v
              |  FROM s0 GROUP BY 1, 2),
              |sp AS MATERIALIZED (SELECT user, min(t) AS t0, max(t) AS t1
              |  FROM agg GROUP BY 1),
              |wb AS MATERIALIZED (SELECT a.user, a.t, a.v,
              |    CASE WHEN s.t1 = s.t0 THEN 0
              |      ELSE least(39, ((a.t - s.t0) * 40) // (s.t1 - s.t0 + 1))
              |      END AS bucket,
              |    (a.t - s.t0) // 1000 AS dt
              |  FROM agg a JOIN sp s USING (user)),
              |av AS (SELECT user, bucket, sum(dt) AS st, count(*) AS cn,
              |    round(avg(v), 6) AS avv
              |  FROM wb GROUP BY 1, 2),
              |an AS MATERIALIZED (SELECT user, bucket,
              |    st::DOUBLE / cn AS at, avv,
              |    lag(st::DOUBLE / cn) OVER w AS pt,
              |    lag(avv) OVER w AS pv,
              |    lead(st::DOUBLE / cn) OVER w AS nt,
              |    lead(avv) OVER w AS nv
              |  FROM av WINDOW w AS (PARTITION BY user ORDER BY bucket)),
              |sc AS (SELECT w.user, w.bucket, w.t, w.v,
              |    CASE WHEN a.pt IS NULL OR a.nt IS NULL THEN 0.0
              |      ELSE round(abs((a.pt - a.nt) * (w.v - a.nv) -
              |        (a.pv - a.nv) * (w.dt::DOUBLE - a.nt)), 6) END AS area,
              |    CASE WHEN a.nt IS NULL AND a.pt IS NOT NULL THEN w.t
              |      ELSE -w.t END AS o
              |  FROM wb w JOIN an a USING (user, bucket)),
              |pick AS (SELECT user, bucket, t, v, row_number() OVER (
              |    PARTITION BY user, bucket
              |    ORDER BY area DESC, o DESC, t DESC, v DESC) AS rn
              |  FROM sc)
              |SELECT user, bucket, t AS ts, v AS value
              |FROM pick WHERE rn = 1 ORDER BY 1, 2""".stripMargin)),

    // -- kNN label propagation: weak supervision from a labeled seed -----
    // every 5th vector is the "unlabeled" query set; majority label of
    // its 5 nearest labeled neighbors, integer-only tie-break
    "embed_knn_classify" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        Embed.knnClassify(emb.filter(col("vec_id") % 5 =!= 0),
            emb.filter(col("vec_id") % 5 === 0), k = 5)
          .orderBy(col("qid"))
      },
      Some(knnClassifyOracle)),

    // -- similarity: celled k-NN label vote (the serving shape) ----------
    // Full probing (probes == nCells) scores every labeled vector
    // exactly once, so the celled path is bit-identical to the brute
    // form and the same oracle applies — what's under test is the
    // cell-assignment/explode/equi-join plumbing whose per-query cost
    // stays bounded at 100 TB (the brute form's Θ(q·n) pair frame
    // filled the disk at the 1000x ScaleCheck).
    "embed_knn_classify_cells" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        Embed.knnClassifyCells(emb.filter(col("vec_id") % 5 =!= 0),
            emb.filter(col("vec_id") % 5 === 0), k = 5,
            centroids = ivfCentroids(s, d), probes = 4)
          .orderBy(col("qid"))
      },
      Some(knnClassifyOracle)),

    // -- event-type transition matrix (user-path Sankey counts) ----------
    "ts_transition_matrix" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples.select(
          element_at(col("tags"), "user").as("user"),
          col("ts"), col("metric"))
        EventOps.transitionMatrix(ev, Seq("user"), "ts", "metric")
          .orderBy(col("prev"), col("next"))
      },
      Some(s"""WITH t AS (SELECT user_id::VARCHAR AS u, $tsSql AS t,
              |    event_type AS k FROM events),
              |p AS (SELECT u, k,
              |    lag(k) OVER (PARTITION BY u ORDER BY t, k) AS prev
              |  FROM t),
              |c AS (SELECT prev, k AS next, count(*) AS n FROM p
              |  WHERE prev IS NOT NULL GROUP BY 1, 2)
              |SELECT prev, next, n, round(n::DOUBLE /
              |    sum(n) OVER (PARTITION BY prev), 6) AS share
              |FROM c ORDER BY 1, 2""".stripMargin)),

    // -- soft dedup: 1/cluster-size training weights ---------------------
    // the keep-nothing alternative to dedupKeepBest: every near-dup
    // cluster contributes one document's worth of weight
    "doc_soft_dedup" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val cc = Dedup.connectedComponents(Dedup.minhashLsh(docs,
          n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5))
        Dedup.softDedupWeights(docs, cc).orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM toks),
             |pairs AS (
             |  SELECT a, b FROM (
             |    SELECT x.doc_id AS a, y.doc_id AS b,
             |      len(list_intersect(x.g, y.g))::DOUBLE /
             |        (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS j
             |    FROM grams x JOIN grams y ON x.doc_id < y.doc_id)
             |  WHERE j >= 0.5),
             |edges AS (
             |  SELECT a AS u, b AS v FROM pairs
             |  UNION SELECT b, a FROM pairs),
             |reach(u, v) AS (
             |  SELECT u, v FROM edges
             |  UNION
             |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
             |comp AS MATERIALIZED (SELECT u AS doc_id,
             |    least(u, min(v)) AS component
             |  FROM reach GROUP BY u),
             |sz AS (SELECT component, count(*) AS n FROM comp GROUP BY 1)
             |SELECT d.doc_id,
             |  coalesce(c.component, d.doc_id) AS cluster,
             |  round(1.0 / coalesce(sz.n, 1), 6) AS weight
             |FROM documents d
             |LEFT JOIN comp c USING (doc_id)
             |LEFT JOIN sz ON c.component = sz.component
             |ORDER BY 1""".stripMargin)),

    // -- per-dimension embedding standardization (z-normalize) -----------
    // long format (vec_id, dim, v) — the comparator's array convention
    // (embed_random_projection does the same)
    "embed_standardize" -> Gated(
      (s, d) => Embed.standardize(TestData.table(s, d, "embeddings"))
        .select(col("vec_id"), posexplode(col("std")))
        .select(col("vec_id"), col("pos").cast("long").as("dim"),
          col("col").as("v"))
        .orderBy(col("vec_id"), col("dim")),
      Some("""WITH e AS (SELECT vec_id,
             |    unnest(list_transform(embedding, x -> x::DOUBLE)) AS x,
             |    unnest(range(len(embedding))) AS d
             |  FROM embeddings),
             |st AS MATERIALIZED (SELECT d, round(avg(x), 6) AS mu,
             |    round(stddev_samp(x), 6) AS sd
             |  FROM e GROUP BY 1)
             |SELECT e.vec_id, e.d AS dim,
             |  CASE WHEN st.sd > 0 THEN round((e.x - st.mu) / st.sd, 6)
             |    ELSE 0.0 END AS v
             |FROM e JOIN st USING (d)
             |ORDER BY 1, 2""".stripMargin)),

    // -- duration-conditioned threshold alerts (gaps-and-islands runs) ---
    "ts_threshold_alerts" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples.select(col("metric"),
          element_at(col("tags"), "user").as("user"),
          col("ts"), col("value"))
        TsAnalytics.thresholdAlerts(ev, Seq("metric", "user"),
            "ts", "value", threshold = 120.0, minRun = 2)
          .orderBy(col("metric"), col("user"), col("start_ts"))
      },
      Some(s"""WITH s0 AS (SELECT event_type AS metric,
              |    user_id::VARCHAR AS user, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |agg AS (SELECT metric, user, t, max(value) AS v
              |  FROM s0 GROUP BY 1, 2, 3),
              |f AS (SELECT *, round(v, 6) AS v6, row_number()
              |    OVER (PARTITION BY metric, user ORDER BY t) AS rn
              |  FROM agg),
              |br AS (SELECT *, rn - row_number()
              |    OVER (PARTITION BY metric, user ORDER BY t) AS grp
              |  FROM f WHERE v6 > 120),
              |runs AS (SELECT metric, user, grp, min(t) AS start_ts,
              |    max(t) AS end_ts, count(*) AS n, round(max(v), 6) AS peak
              |  FROM br GROUP BY 1, 2, 3)
              |SELECT metric, user, start_ts, end_ts, n, peak
              |FROM runs WHERE n >= 2 ORDER BY 1, 2, 3""".stripMargin)),

    // -- multi-window SLO burn rate (fast+slow window alerting) ----------
    // slo 0.75 keeps the error budget an exact binary double on both
    // engines; counts are exact longs so the burn division replays
    "ts_burn_rate" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples.select(
          element_at(col("tags"), "user").as("user"),
          col("ts"), col("metric"))
        TsAnalytics.burnRate(ev, Seq("user"), "ts",
            bad = col("metric") === "error", bucketNs = Day,
            shortBuckets = 3, longBuckets = 7, slo = 0.75, factor = 1.0)
          .orderBy(col("user"), col("bucket"))
      },
      Some(s"""WITH b AS (SELECT user_id::VARCHAR AS user,
              |    $tsSql // $Day AS bk, count(*) AS n,
              |    count(*) FILTER (WHERE event_type = 'error') AS n_bad
              |  FROM events GROUP BY 1, 2),
              |w AS (SELECT *,
              |    (sum(n_bad) OVER ws)::DOUBLE / (sum(n) OVER ws)
              |      / 0.25 AS bs,
              |    (sum(n_bad) OVER wl)::DOUBLE / (sum(n) OVER wl)
              |      / 0.25 AS bl
              |  FROM b WINDOW ws AS (PARTITION BY user ORDER BY bk
              |      RANGE BETWEEN 2 PRECEDING AND CURRENT ROW),
              |    wl AS (PARTITION BY user ORDER BY bk
              |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
              |SELECT user, bk * $Day AS bucket, n, n_bad,
              |  round(bs, 6) AS burn_short, round(bl, 6) AS burn_long,
              |  (round(bs, 6) > 1.0 AND round(bl, 6) > 1.0) AS alert
              |FROM w ORDER BY 1, 2""".stripMargin)),

    // -- streaming anomaly alerts: EW mean/variance band in state --------
    // two real micro-batches split at mid-range; the state recurrence
    // has a fixed op order so the DuckDB recursive CTE replays the
    // exact doubles and the alert set matches bit-for-bit
    "ts_anomaly_stream" -> Gated(
      (s, d) => {
        val collapsed = TestData.events(s, d).samples
          .filter(col("value").isNotNull)
          .groupBy(col("metric"), col("ts"))
          .agg(max(col("value")).as("value"))
          .withColumn("tags",
            map_from_arrays(array().cast("array<string>"),
              array().cast("array<string>")))
        val mid = AkuTime.parseTs("20240116T000000")
        val tmp = TestData.freshScratch("graft_sanom")
        val src = s"$tmp/src"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
        collapsed.filter(col("ts") < mid).write.mode("append").parquet(src)
        // state partitions derive from the source scale (parquet
        // metadata count — no scan), not the session constant: every
        // micro-batch commits every state partition, and the state here
        // is a handful of series (see withStatePartitions)
        val ss = graft.streaming.StreamIngest.withStatePartitions(s,
          s.read.parquet(src).count())
        val alerts = graft.streaming.StreamIngest.streamingAnomaly(
          ss.readStream.schema(collapsed.schema).parquet(src),
          decay = 0.3, k = 2.5, warmup = 10)
          .toDF("sname", "ts", "value", "ewma", "sigma")
        val q = alerts.writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) => b.write.mode("append").parquet(out); ()
          }
          .start()
        try {
          q.processAllAvailable()
          collapsed.filter(col("ts") >= mid)
            .write.mode("append").parquet(src)
          q.processAllAvailable()
        } finally q.stop()
        s.read.parquet(out)
          .select(col("sname"), col("ts"), col("value"),
            round(col("ewma"), 6).as("ewma"),
            round(col("sigma"), 6).as("sigma"))
          .orderBy(col("sname"), col("ts"))
      },
      Some(s"""WITH RECURSIVE agg AS (
              |  SELECT event_type AS sname, $tsSql AS t, max(value) AS v
              |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
              |base AS MATERIALIZED (SELECT sname, t, v, row_number()
              |    OVER (PARTITION BY sname ORDER BY t) AS rn FROM agg),
              |r AS (
              |  SELECT sname, 0 AS rn, 0.0::DOUBLE AS mean,
              |    0.0::DOUBLE AS varr
              |  FROM (SELECT DISTINCT sname FROM base)
              |  UNION ALL
              |  SELECT b.sname, b.rn,
              |    r.mean + 0.3 * (b.v - r.mean),
              |    (1 - 0.3) * (r.varr +
              |      (b.v - r.mean) * (0.3 * (b.v - r.mean)))
              |  FROM r JOIN base b ON b.sname = r.sname AND b.rn = r.rn + 1),
              |al AS (SELECT b.sname, b.t, b.v, r.mean,
              |    sqrt(r.varr) AS sigma
              |  FROM base b JOIN r ON r.sname = b.sname AND r.rn = b.rn - 1
              |  WHERE b.rn - 1 >= 10 AND
              |    round(abs(b.v - r.mean), 6) > round(2.5 * sigma, 6))
              |SELECT sname, t AS ts, v AS value, round(mean, 6) AS ewma,
              |  round(sigma, 6) AS sigma
              |FROM al ORDER BY 1, 2""".stripMargin)),

    // -- event-time-DETERMINISTIC streaming anomaly (VERDICT r11 #5) -----
    // the arrival order is deliberately SCRAMBLED (the whole late half
    // lands before the early half) and the op must still match the
    // ts-ordered recursive-CTE oracle bit-for-bit: the watermark-
    // buffered fold makes the alert set a pure function of the data,
    // where streamingAnomaly's trajectory would follow arrival order
    // (OrderedAnomalySpec proves that op diverges on this shape)
    "ts_anomaly_stream_ordered" -> Gated(
      (s, d) => {
        val collapsed = TestData.events(s, d).samples
          .filter(col("value").isNotNull)
          .groupBy(col("metric"), col("ts"))
          .agg(max(col("value")).as("value"))
          .withColumn("tags",
            map_from_arrays(array().cast("array<string>"),
              array().cast("array<string>")))
        val mid = AkuTime.parseTs("20240116T000000")
        val maxTs = AkuTime.parseTs("20240301T000000")
        val day = 86400L * 1000000000L
        def sentinel(ts: Long) = s.range(1).select(
          lit("__wm").as("metric"), lit(ts).as("ts"),
          lit(0.0).as("value"),
          map_from_arrays(array().cast("array<string>"),
            array().cast("array<string>")).as("tags"))
        val tmp = TestData.freshScratch("graft_sanom_ord")
        val src = s"$tmp/src"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
        // batch 1 = LATE half first: the maximally out-of-order arrival
        collapsed.filter(col("ts") >= mid).write.mode("append").parquet(src)
        // state partitions derive from the source scale (metadata-only
        // count); the watermark buffer here is per-series state and the
        // 5 micro-batches otherwise each commit 32 near-empty stores
        val ss = graft.streaming.StreamIngest.withStatePartitions(s,
          s.read.parquet(src).count())
        val alerts = graft.streaming.StreamIngest.streamingAnomalyOrdered(
          ss.readStream.schema(collapsed.schema).parquet(src),
          decay = 0.3, k = 2.5, warmup = 10, watermarkDelay = "60 days")
          .toDF("sname", "ts", "value", "ewma", "sigma")
        val q = alerts.writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) => b.write.mode("append").parquet(out); ()
          }
          .start()
        try {
          q.processAllAvailable()
          collapsed.filter(col("ts") < mid)
            .write.mode("append").parquet(src)
          q.processAllAvailable()
          // two sentinel batches: the first advances the watermark past
          // every real row, the second fires the event-time timeouts
          // that flush the buffered series
          sentinel(maxTs + 90 * day).write.mode("append").parquet(src)
          q.processAllAvailable()
          sentinel(maxTs + 120 * day).write.mode("append").parquet(src)
          q.processAllAvailable()
        } finally q.stop()
        s.read.parquet(out)
          .filter(col("sname") =!= "__wm")
          .select(col("sname"), col("ts"), col("value"),
            round(col("ewma"), 6).as("ewma"),
            round(col("sigma"), 6).as("sigma"))
          .orderBy(col("sname"), col("ts"))
      },
      Some(s"""WITH RECURSIVE agg AS (
              |  SELECT event_type AS sname, $tsSql AS t, max(value) AS v
              |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
              |base AS MATERIALIZED (SELECT sname, t, v, row_number()
              |    OVER (PARTITION BY sname ORDER BY t) AS rn FROM agg),
              |r AS (
              |  SELECT sname, 0 AS rn, 0.0::DOUBLE AS mean,
              |    0.0::DOUBLE AS varr
              |  FROM (SELECT DISTINCT sname FROM base)
              |  UNION ALL
              |  SELECT b.sname, b.rn,
              |    r.mean + 0.3 * (b.v - r.mean),
              |    (1 - 0.3) * (r.varr +
              |      (b.v - r.mean) * (0.3 * (b.v - r.mean)))
              |  FROM r JOIN base b ON b.sname = r.sname AND b.rn = r.rn + 1),
              |al AS (SELECT b.sname, b.t, b.v, r.mean,
              |    sqrt(r.varr) AS sigma
              |  FROM base b JOIN r ON r.sname = b.sname AND r.rn = b.rn - 1
              |  WHERE b.rn - 1 >= 10 AND
              |    round(abs(b.v - r.mean), 6) > round(2.5 * sigma, 6))
              |SELECT sname, t AS ts, v AS value, round(mean, 6) AS ewma,
              |  round(sigma, 6) AS sigma
              |FROM al ORDER BY 1, 2""".stripMargin)),

    // -- series-cardinality growth report (index-melt detector) ----------
    "ts_cardinality_report" -> Gated(
      (s, d) => {
        val withS = TestData.events(s, d).samples
          .select(col("metric"), col("sname"), col("ts"))
        TsAnalytics.cardinalityReport(withS, Seq("metric"), "sname",
            "ts", bucketNs = Day)
          .orderBy(col("metric"), col("bucket"))
      },
      Some(s"""WITH c AS (SELECT event_type AS metric,
              |    ${snameSql("event_type")} AS s, $tsSql // $Day AS b,
              |    count(*) AS n
              |  FROM events GROUP BY 1, 2, 3),
              |pb AS (SELECT metric, b, count(*) AS n_series,
              |    sum(n) AS n_samples FROM c GROUP BY 1, 2),
              |fs AS (SELECT metric, b, count(*) AS n_new FROM
              |  (SELECT metric, s, min(b) AS b FROM c GROUP BY 1, 2)
              |  GROUP BY 1, 2)
              |SELECT pb.metric, pb.b * $Day AS bucket, n_series,
              |  n_samples, coalesce(n_new, 0) AS n_new,
              |  n_series - lag(n_series) OVER (PARTITION BY pb.metric
              |    ORDER BY pb.b) AS growth
              |FROM pb LEFT JOIN fs ON pb.metric = fs.metric AND pb.b = fs.b
              |ORDER BY 1, 2""".stripMargin)),

    // -- forecast backtest: holt one-to-five-step MAE vs actual means ----
    "ts_forecast_backtest" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .select(col("metric").as("sname"), col("ts"), col("value"))
        val split = AkuTime.parseTs("20240120T000000")
        TsAnalytics.forecastBacktest(ev, Seq("sname"), "ts", "value",
            alpha = 0.4, beta = 0.3, splitNs = split, horizon = 5,
            stepNs = Day)
          .orderBy(col("sname"))
      },
      Some(s"""WITH RECURSIVE src AS (
              |  SELECT event_type AS sname, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |agg AS (SELECT sname, t, max(value) AS v
              |  FROM src WHERE t < ${AkuTime.parseTs("20240120T000000")}
              |  GROUP BY 1, 2),
              |base AS MATERIALIZED (SELECT sname, t, v,
              |    row_number() OVER (PARTITION BY sname ORDER BY t) AS rn,
              |    count(*) OVER (PARTITION BY sname) AS cnt FROM agg),
              |r AS (
              |  SELECT sname, t, rn, cnt, v::DOUBLE AS l, 0.0::DOUBLE AS b
              |  FROM base WHERE rn = 1
              |  UNION ALL
              |  SELECT b2.sname, b2.t, b2.rn, b2.cnt,
              |    0.4 * b2.v + 0.6 * (r.l + r.b),
              |    0.3 * (0.4 * b2.v + 0.6 * (r.l + r.b) - r.l) + 0.7 * r.b
              |  FROM r JOIN base b2
              |    ON b2.sname = r.sname AND b2.rn = r.rn + 1),
              |fin AS (SELECT sname, t AS last_ts, l, b
              |  FROM r WHERE rn = cnt),
              |fc AS MATERIALIZED (SELECT sname, last_ts + i * $Day AS fts,
              |    round(l + i * b, 6) AS forecast
              |  FROM fin CROSS JOIN (SELECT unnest(range(1, 6)) AS i)),
              |act AS (SELECT f.sname, f.fts, f.forecast,
              |    round(avg(s.value), 6) AS a
              |  FROM fc f JOIN src s ON s.sname = f.sname
              |    AND s.t >= ${AkuTime.parseTs("20240120T000000")}
              |    AND s.t >= f.fts AND s.t < f.fts + $Day
              |  GROUP BY 1, 2, 3)
              |SELECT sname, count(*) AS n_eval,
              |  round(avg(abs(forecast - a)), 6) AS mae,
              |  round(avg(a), 6) AS mean_actual
              |FROM act GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- SQL extension surface: native expressions as plain SQL ----------
    // The same codegen'd kernels the DataFrame API uses, reachable from
    // spark.sql via SparkSessionExtensions (graft.sql.GraftExtensions) —
    // a session started with spark.sql.extensions gets them at build
    // time; register() installs them on the driver's session here.
    "sql_vec_functions" -> Gated(
      (s, d) => {
        graft.sql.GraftExtensions.register(s)
        s.sql(
          s"""SELECT a.vec_id AS id1, b.vec_id AS id2,
             |  round(vec_cosine(a.embedding, b.embedding), 6) AS cos_ab,
             |  round(vec_dot(a.embedding, b.embedding), 6) AS dot_ab
             |FROM parquet.`$d/embeddings.parquet` a
             |JOIN parquet.`$d/embeddings.parquet` b
             |  ON b.vec_id = a.vec_id + 100
             |ORDER BY 1""".stripMargin)
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings)
             |SELECT a.vec_id AS id1, b.vec_id AS id2,
             |  round(list_cosine_similarity(a.v, b.v), 6) AS cos_ab,
             |  round(list_dot_product(a.v, b.v), 6) AS dot_ab
             |FROM e a JOIN e b ON b.vec_id = a.vec_id + 100
             |ORDER BY 1""".stripMargin)),

    // -- M4 chart downsampling: min/max/first/last per pixel bucket ------
    // one hash aggregate; first/last ride min/max over (ts, value)
    // structs, so there is no window pass and ties are deterministic
    "ts_m4_downsample" -> Gated(
      (s, d) => TsAnalytics.m4Downsample(
          TestData.events(s, d).samples, Seq("metric"), "ts", "value", Day)
        .orderBy(col("metric"), col("bucket")),
      Some(s"""WITH b AS (SELECT event_type AS metric,
              |    ($tsSql // $Day) * $Day AS bucket, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |f AS (SELECT *,
              |    row_number() OVER (PARTITION BY metric, bucket
              |      ORDER BY t, value) AS rf,
              |    row_number() OVER (PARTITION BY metric, bucket
              |      ORDER BY t DESC, value DESC) AS rl FROM b)
              |SELECT metric, bucket, count(*) AS n,
              |  min(value) AS v_min, max(value) AS v_max,
              |  max(CASE WHEN rf = 1 THEN t END) AS ts_first,
              |  max(CASE WHEN rf = 1 THEN value END) AS v_first,
              |  max(CASE WHEN rl = 1 THEN t END) AS ts_last,
              |  max(CASE WHEN rl = 1 THEN value END) AS v_last
              |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- rollup store: serve a 2-day aggregate from stored 1-day summaries
    // writes step=6h and step=1d rollups, then serves step=2d — the
    // coarsest-divisor pick MUST choose 1d and merge two buckets per
    // output row (count/sum/min/max/first/last all merge associatively)
    "ts_rollup_serve" -> Gated(
      (s, d) => {
        val tmp = TestData.scratch("graft_rollup", d)
        graft.io.Rollup.write(TestData.events(s, d).samples, tmp,
          Seq(H6, Day))
        graft.io.Rollup.serve(s, tmp, 2 * Day)
          .orderBy(col("metric"), col("sname"), col("bucket"))
      },
      Some(s"""WITH b AS (SELECT event_type AS metric,
              |    ${snameSql("event_type")} AS sname,
              |    ($tsSql // ${2 * Day}) * ${2 * Day} AS bucket,
              |    $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |f AS (SELECT *,
              |    row_number() OVER (PARTITION BY metric, sname, bucket
              |      ORDER BY t, value) AS rf,
              |    row_number() OVER (PARTITION BY metric, sname, bucket
              |      ORDER BY t DESC, value DESC) AS rl FROM b)
              |SELECT metric, sname, bucket, count(*) AS cnt,
              |  round(sum(value), 6) AS vsum,
              |  min(value) AS vmin, max(value) AS vmax,
              |  round(sum(value) / count(*), 6) AS mean,
              |  max(CASE WHEN rf = 1 THEN value END) AS first_v,
              |  max(CASE WHEN rl = 1 THEN value END) AS last_v
              |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // -- rollup store maintenance: incremental batch fold ----------------
    // build from the pre-split half, update() with the rest, serve at
    // 2d: the merge algebra must reproduce the full-rebuild answer (the
    // same oracle as ts_rollup_serve — direct aggregation over ALL rows)
    "ts_rollup_update" -> Gated(
      (s, d) => {
        val tmp = TestData.scratch("graft_ruup", d)
        val ev = TestData.events(s, d).samples
        val mid = AkuTime.parseTs("20240116T000000")
        graft.io.Rollup.write(ev.filter(col("ts") < mid), tmp, Seq(Day))
        graft.io.Rollup.update(ev.filter(col("ts") >= mid), tmp)
        graft.io.Rollup.serve(s, tmp, 2 * Day)
          .orderBy(col("metric"), col("sname"), col("bucket"))
      },
      Some(rollupServe2dOracle)),

    // -- rollup store maintenance: CONTINUOUS (streaming) fold -----------
    // The same pre-split halves arrive as two REAL micro-batches through
    // a foreachBatch sink (continuousRollup): batch 1 bootstraps the
    // store, batch 2 folds via Rollup.update — serve at 2d must equal
    // the direct aggregation over all rows, same oracle as the batch
    // update gate (the fold algebra is exact across the batch boundary).
    "ts_rollup_stream" -> Gated(
      (s, d) => {
        val tmpDir = TestData.freshScratch("graft_rustream")
        val src = s"$tmpDir/src"; val ckpt = s"$tmpDir/ckpt"
        val store = s"$tmpDir/store"
        val ev = TestData.events(s, d).samples
          .select(col("metric"), col("tags"), col("ts"), col("value"))
        val mid = AkuTime.parseTs("20240116T000000")
        ev.filter(col("ts") < mid).write.mode("append").parquet(src)
        val q = graft.streaming.StreamIngest.continuousRollup(
          s.readStream.schema(ev.schema).parquet(src),
          store, Seq(Day), ckpt).start()
        try {
          q.processAllAvailable()
          ev.filter(col("ts") >= mid).write.mode("append").parquet(src)
          q.processAllAvailable()
        } finally q.stop()
        graft.io.Rollup.serve(s, store, 2 * Day)
          .orderBy(col("metric"), col("sname"), col("bucket"))
      },
      Some(rollupServe2dOracle)),

    // -- classical additive seasonal decomposition -----------------------
    // 6h buckets, period 5: trend = centered 5-bucket MA (null unless
    // the RANGE window holds a full period), seasonal = centered
    // per-phase mean of the detrended series, remainder = the rest
    "ts_seasonal_decompose" -> Gated(
      (s, d) => TsAnalytics.seasonalDecompose(
          TestData.events(s, d).samples, Seq("metric"), "ts", "value",
          bucketNs = H6, period = 5)
        .select(col("metric"), col("bucket"),
          round(col("value"), 6).as("value"),
          round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"),
          round(col("remainder"), 6).as("remainder"))
        .orderBy(col("metric"), col("bucket")),
      Some(s"""WITH b AS (SELECT event_type AS metric, $tsSql // $H6 AS bi,
              |    avg(value) AS v
              |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
              |t AS (SELECT *, CASE WHEN count(v) OVER w = 5
              |      THEN avg(v) OVER w END AS trend
              |  FROM b WINDOW w AS (PARTITION BY metric ORDER BY bi
              |    RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
              |dt AS (SELECT *, bi % 5 AS phase, v - trend AS detr FROM t),
              |pm AS (SELECT metric, phase, avg(detr) AS smean
              |  FROM dt GROUP BY 1, 2),
              |pc AS (SELECT metric, phase,
              |    smean - avg(smean) OVER (PARTITION BY metric) AS seasonal
              |  FROM pm)
              |SELECT dt.metric, dt.bi * $H6 AS bucket,
              |  round(dt.v, 6) AS value, round(dt.trend, 6) AS trend,
              |  round(pc.seasonal, 6) AS seasonal,
              |  round(dt.v - dt.trend - pc.seasonal, 6) AS remainder
              |FROM dt JOIN pc ON dt.metric = pc.metric
              |  AND dt.phase = pc.phase
              |ORDER BY 1, 2""".stripMargin)),

    // -- seasonality / trend strength (Hyndman's STL F-measures) ---------
    "ts_seasonality_strength" -> Gated(
      (s, d) => TsAnalytics.seasonalityStrength(
          TestData.events(s, d).samples, Seq("metric"), "ts", "value",
          bucketNs = H6, period = 5)
        .orderBy(col("metric")),
      Some(s"""WITH b AS (SELECT event_type AS metric, $tsSql // $H6 AS bi,
              |    avg(value) AS v
              |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
              |t AS (SELECT *, CASE WHEN count(v) OVER w = 5
              |      THEN avg(v) OVER w END AS trend
              |  FROM b WINDOW w AS (PARTITION BY metric ORDER BY bi
              |    RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
              |dt AS (SELECT *, bi % 5 AS phase, v - trend AS detr FROM t),
              |pm AS (SELECT metric, phase, avg(detr) AS smean
              |  FROM dt GROUP BY 1, 2),
              |pc AS (SELECT metric, phase,
              |    smean - avg(smean) OVER (PARTITION BY metric) AS seasonal
              |  FROM pm),
              |r AS (SELECT dt.metric, dt.trend, pc.seasonal,
              |    dt.v - dt.trend - pc.seasonal AS rem
              |  FROM dt JOIN pc ON dt.metric = pc.metric
              |    AND dt.phase = pc.phase
              |  WHERE dt.trend IS NOT NULL)
              |SELECT metric, count(*) AS n,
              |  round(CASE WHEN var_samp(seasonal + rem) > 0 THEN
              |    greatest(0, 1 - var_samp(rem) / var_samp(seasonal + rem))
              |    END, 6) AS f_seasonal,
              |  round(CASE WHEN var_samp(trend + rem) > 0 THEN
              |    greatest(0, 1 - var_samp(rem) / var_samp(trend + rem))
              |    END, 6) AS f_trend
              |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- IVF cluster-balance health report -------------------------------
    // same pinned vec_id<4 centroids as embed_kmeans; entropy vs the
    // uniform log2(cells) ceiling, imbalance = max/mean cell size
    "embed_cluster_balance" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        Embed.clusterBalance(emb, init)
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id,
             |    list_transform(v, x ->
             |      x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
             |  FROM e),
             |init AS (SELECT vec_id::INT AS cid, u FROM n WHERE vec_id < 4),
             |assign AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT n.vec_id, init.cid,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY round(list_cosine_similarity(n.u, init.u), 6)
             |          DESC, init.cid DESC) AS rn
             |    FROM n CROSS JOIN init) WHERE rn = 1),
             |sz AS (SELECT cid, count(*) AS sz FROM assign GROUP BY 1),
             |tot AS (SELECT sum(sz) AS nv FROM sz)
             |SELECT count(*) AS n_cells_used, (SELECT nv FROM tot)
             |    AS n_vectors,
             |  min(sz) AS min_cell, max(sz) AS max_cell,
             |  round(max(sz) * count(*) / (SELECT nv FROM tot)::DOUBLE, 6)
             |    AS imbalance,
             |  round(-sum((sz::DOUBLE / (SELECT nv FROM tot)) *
             |    log2(sz::DOUBLE / (SELECT nv FROM tot))), 6)
             |    AS entropy_bits
             |FROM sz""".stripMargin)),

    // -- LSH banding recall vs exact truth (the dedup annRecall) ---------
    // n_candidates depends on the banding hash and is for tuning eyes;
    // the gate checks the truth-derived columns
    "doc_lsh_recall" -> Gated(
      (s, d) => Dedup.lshTuningReport(TestData.table(s, d, "documents"),
          n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5)
        .select(col("n_true"), col("n_hits"), col("recall")),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
              |  FROM documents),
              |grams AS (
              |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
              |    THEN list_transform(range(1, len(t) - 1),
              |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              |    ELSE [] END) AS g
              |  FROM toks),
              |pairs AS (
              |  SELECT a, b FROM (
              |    SELECT x.doc_id AS a, y.doc_id AS b,
              |      len(list_intersect(x.g, y.g))::DOUBLE /
              |        (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS j
              |    FROM grams x JOIN grams y ON x.doc_id < y.doc_id)
              |  WHERE j >= 0.5)
              |SELECT count(*) AS n_true, count(*) AS n_hits,
              |  round(1.0, 6) AS recall
              |FROM pairs""".stripMargin)),

    // -- per-series overview panel (count/span/gaps/range/percentiles) ---
    "ts_series_overview" -> Gated(
      (s, d) => {
        val withS = TestData.events(s, d).samples
          .select(col("metric"), col("sname"), col("ts"), col("value"))
        TsAnalytics.seriesOverview(withS, Seq("metric", "sname"),
            "ts", "value")
          .orderBy(col("metric"), col("sname"))
      },
      Some(s"""WITH s0 AS (SELECT event_type AS metric,
              |    ${snameSql("event_type")} AS sname, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |agg AS (SELECT metric, sname, t, max(value) AS v
              |  FROM s0 GROUP BY 1, 2, 3),
              |g AS (SELECT *, t - lag(t) OVER (
              |    PARTITION BY metric, sname ORDER BY t) AS gap
              |  FROM agg)
              |SELECT metric, sname, count(*) AS n,
              |  min(t) AS first_ts, max(t) AS last_ts,
              |  max(t) - min(t) AS span_ns, max(gap) AS max_gap_ns,
              |  min(v) AS vmin, max(v) AS vmax,
              |  round(avg(v), 6) AS mean,
              |  round(quantile_cont(v, 0.5), 6) AS p50,
              |  round(quantile_cont(v, 0.95), 6) AS p95
              |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- Prometheus irate: last-two-sample instantaneous rate ------------
    "ts_irate" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .select(col("metric"),
            element_at(col("tags"), "user").as("user"),
            col("ts"), col("value"))
        TsAnalytics.instantRate(ev, Seq("metric", "user"), "ts", "value")
          .orderBy(col("metric"), col("user"))
      },
      Some(s"""WITH s0 AS (SELECT event_type AS metric,
              |    user_id::VARCHAR AS user, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |agg AS (SELECT metric, user, t, max(value) AS v
              |  FROM s0 GROUP BY 1, 2, 3),
              |rk AS (SELECT *, row_number() OVER (
              |    PARTITION BY metric, user ORDER BY t DESC) AS rn
              |  FROM agg),
              |p AS (SELECT metric, user,
              |    max(CASE WHEN rn = 1 THEN t END) AS lt,
              |    max(CASE WHEN rn = 1 THEN v END) AS lv,
              |    max(CASE WHEN rn = 2 THEN t END) AS pt,
              |    max(CASE WHEN rn = 2 THEN v END) AS pv
              |  FROM rk WHERE rn <= 2 GROUP BY 1, 2
              |  HAVING count(*) = 2)
              |SELECT metric, user, lt AS ts, lt - pt AS dt_ns,
              |  round((CASE WHEN lv < pv THEN lv ELSE lv - pv END) /
              |    ((lt - pt)::DOUBLE / 1000000000.0), 6) AS rate,
              |  lv < pv AS reset
              |FROM p ORDER BY 1, 2""".stripMargin)),

    // -- Prometheus increase: counter-aware per-bucket delta sum ---------
    "ts_increase" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .select(col("metric"),
            element_at(col("tags"), "user").as("user"),
            col("ts"), col("value"))
        TsAnalytics.counterIncrease(ev, Seq("metric", "user"),
            "ts", "value", bucketNs = Day)
          .orderBy(col("metric"), col("user"), col("bucket"))
      },
      Some(s"""WITH s0 AS (SELECT event_type AS metric,
              |    user_id::VARCHAR AS user, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |agg AS (SELECT metric, user, t, max(value) AS v
              |  FROM s0 GROUP BY 1, 2, 3),
              |lg AS (SELECT *, lag(v) OVER (
              |    PARTITION BY metric, user ORDER BY t) AS pv
              |  FROM agg)
              |SELECT metric, user, (t // $Day) * $Day AS bucket,
              |  count(*) AS n,
              |  count(*) FILTER (WHERE v < pv) AS n_resets,
              |  round(sum(CASE WHEN v < pv THEN v ELSE v - pv END), 6)
              |    AS increase
              |FROM lg WHERE pv IS NOT NULL
              |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // -- all-pairs metric correlation matrix over aligned buckets --------
    "ts_corr_matrix" -> Gated(
      (s, d) => TsAnalytics.correlationMatrix(
          TestData.events(s, d).samples, "metric", "ts", "value",
          bucketNs = H6)
        .orderBy(col("m1"), col("m2")),
      Some(s"""WITH b AS (SELECT event_type AS m, $tsSql // $H6 AS bi,
              |    avg(value) AS v
              |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
              |SELECT l.m AS m1, r.m AS m2, count(*) AS n,
              |  CASE WHEN stddev_samp(l.v) > 0 AND stddev_samp(r.v) > 0
              |    THEN round(covar_samp(l.v, r.v) /
              |      (stddev_samp(l.v) * stddev_samp(r.v)), 6) END AS corr
              |FROM b l JOIN b r ON l.m < r.m AND l.bi = r.bi
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- event-impact: metric before/after each marker instant -----------
    // markers = the user's error events; impact on their click values
    "ts_event_impact" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
        val clicks = ev.filter(col("metric") === "click")
          .select(element_at(col("tags"), "user").as("user"),
            col("ts"), col("value"))
        val markers = ev.filter(col("metric") === "error")
          .select(element_at(col("tags"), "user").as("user"), col("ts"))
          .distinct()
        TsAnalytics.eventImpact(clicks, markers, Seq("user"),
            "ts", "value", windowNs = 2 * Day)
          .orderBy(col("user"), col("marker_ts"))
      },
      Some(s"""WITH s AS (SELECT user_id::VARCHAR AS user, $tsSql AS t,
              |    value FROM events
              |  WHERE event_type = 'click' AND value IS NOT NULL),
              |m AS (SELECT DISTINCT user_id::VARCHAR AS user,
              |    $tsSql AS mt FROM events WHERE event_type = 'error'),
              |j AS (SELECT s.user, m.mt, s.t, s.value
              |  FROM s JOIN m ON s.user = m.user
              |    AND s.t >= m.mt - ${2 * Day} AND s.t <= m.mt + ${2 * Day}
              |    AND s.t <> m.mt)
              |SELECT user, mt AS marker_ts,
              |  count(*) FILTER (WHERE t < mt) AS n_before,
              |  count(*) FILTER (WHERE t > mt) AS n_after,
              |  round(avg(value) FILTER (WHERE t < mt), 6) AS mean_before,
              |  round(avg(value) FILTER (WHERE t > mt), 6) AS mean_after,
              |  round(round(avg(value) FILTER (WHERE t > mt), 6) -
              |    round(avg(value) FILTER (WHERE t < mt), 6), 6) AS delta
              |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- Holt double-exponential forecast --------------------------------
    // level+trend recursion folded as composed affine maps
    // (ChunkedScan.keyedFold — a giant series spans many tasks); the
    // oracle replays the recursion step-by-step in a recursive CTE
    "ts_forecast_holt" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .select(col("metric").as("sname"), col("ts"), col("value"))
        TsAnalytics.holtForecast(ev, Seq("sname"), "ts", "value",
            alpha = 0.4, beta = 0.3, horizon = 5, stepNs = Day)
          .withColumn("forecast", round(col("forecast"), 6))
          .orderBy(col("sname"), col("ts"))
      },
      Some(s"""WITH RECURSIVE src AS (
              |  SELECT event_type AS sname, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |agg AS (SELECT sname, t, max(value) AS v
              |  FROM src GROUP BY 1, 2),
              |base AS (SELECT sname, t, v,
              |    row_number() OVER (PARTITION BY sname ORDER BY t) AS rn,
              |    count(*) OVER (PARTITION BY sname) AS cnt FROM agg),
              |r AS (
              |  SELECT sname, t, rn, cnt, v::DOUBLE AS l, 0.0::DOUBLE AS b
              |  FROM base WHERE rn = 1
              |  UNION ALL
              |  SELECT b2.sname, b2.t, b2.rn, b2.cnt,
              |    0.4 * b2.v + 0.6 * (r.l + r.b),
              |    0.3 * (0.4 * b2.v + 0.6 * (r.l + r.b) - r.l) + 0.7 * r.b
              |  FROM r JOIN base b2
              |    ON b2.sname = r.sname AND b2.rn = r.rn + 1),
              |fin AS (SELECT sname, t AS last_ts, l, b
              |  FROM r WHERE rn = cnt)
              |SELECT sname, last_ts + i * $Day AS ts,
              |  round(l + i * b, 6) AS forecast
              |FROM fin CROSS JOIN (SELECT unnest(range(1, 6)) AS i)
              |ORDER BY 1, 2""".stripMargin)),

    // -- Holt-Winters triple exponential (additive, period 7 samples) ----
    // the seasonal upgrade of ts_forecast_holt: chunks compose as
    // (period+2)-dim affine maps in keyedFold; the oracle replays the
    // recurrence sequentially with a DuckDB list as the seasonal ring
    "ts_forecast_hw" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
          .select(col("metric").as("sname"), col("ts"), col("value"))
        TsAnalytics.holtWintersForecast(ev, Seq("sname"), "ts", "value",
            alpha = 0.3, beta = 0.1, gamma = 0.2, period = 7,
            horizon = 7, stepNs = Day)
          .orderBy(col("sname"), col("ts"))
      },
      Some(s"""WITH RECURSIVE src AS (
              |  SELECT event_type AS sname, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |agg AS (SELECT sname, t, max(value) AS v
              |  FROM src GROUP BY 1, 2),
              |base AS MATERIALIZED (SELECT sname, t, v,
              |    row_number() OVER (PARTITION BY sname ORDER BY t) AS rn,
              |    count(*) OVER (PARTITION BY sname) AS cnt FROM agg),
              |sd AS (SELECT sname, avg(v) AS l0, list(v ORDER BY rn) AS vs
              |  FROM base WHERE rn <= 7 GROUP BY 1 HAVING count(*) = 7),
              |anchor AS (SELECT b.sname, b.rn, b.cnt, b.t,
              |    sd.l0 AS l, 0.0::DOUBLE AS tr,
              |    list_transform(sd.vs, x -> x - sd.l0) AS s
              |  FROM base b JOIN sd USING (sname) WHERE b.rn = 7),
              |r AS (
              |  SELECT sname, rn, cnt, t, l, tr, s FROM anchor
              |  UNION ALL
              |  SELECT n.sname, n.rn, n.cnt, n.t,
              |    0.3 * (n.v - r.s[1]) + 0.7 * (r.l + r.tr),
              |    0.1 * ((0.3 * (n.v - r.s[1]) + 0.7 * (r.l + r.tr)) - r.l)
              |      + 0.9 * r.tr,
              |    r.s[2:] || [0.2 * (n.v -
              |      (0.3 * (n.v - r.s[1]) + 0.7 * (r.l + r.tr)))
              |      + 0.8 * r.s[1]]
              |  FROM r JOIN base n ON n.sname = r.sname AND n.rn = r.rn + 1),
              |fin AS (SELECT * FROM r WHERE rn = cnt)
              |SELECT sname, t + i * $Day AS ts,
              |  round(l + i * tr + s[((i - 1) % 7) + 1], 6) AS forecast
              |FROM fin CROSS JOIN (SELECT unnest(range(1, 8)) AS i)
              |ORDER BY 1, 2""".stripMargin)),

    // -- quality: per-doc character entropy (one codegen'd pass) ---------
    // low entropy = repeated chars / binary junk; the twin unnests
    // code points and aggregates the same -Σ p·log2 p (the `+ 0.0`
    // normalizes DuckDB's -0.0 from all-same-char docs)
    "doc_char_entropy" -> Gated(
      (s, d) => Text.charEntropyReport(TestData.table(s, d, "documents"))
        .orderBy(col("doc_id")),
      Some("""WITH c AS (SELECT doc_id,
             |    unnest(string_split(text, '')) AS ch FROM documents),
             |p AS (SELECT doc_id, ch, count(*)::DOUBLE AS cnt
             |  FROM c GROUP BY 1, 2),
             |nn AS (SELECT doc_id, sum(cnt) AS n FROM p GROUP BY 1),
             |e AS (SELECT p.doc_id,
             |    -sum((cnt / n) * log2(cnt / n)) AS ent
             |  FROM p JOIN nn USING (doc_id) GROUP BY 1)
             |SELECT d.doc_id,
             |  round(coalesce(e.ent, 0.0) + 0.0, 6) AS entropy_bits
             |FROM documents d LEFT JOIN e USING (doc_id)
             |ORDER BY 1""".stripMargin)),

    // -- CCNet-style perplexity bucketing (head/middle/tail) -------------
    // char-bigram LM perplexity terciles per source; ntile over the
    // ROUNDED perplexity with a doc-id tie-break replays exactly
    "doc_ccnet_bucket" -> Gated(
      (s, d) => Text.perplexityBuckets(
          TestData.table(s, d, "documents"), Seq("source"), nBuckets = 3)
        .withColumn("bucket", col("bucket").cast("long"))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
             |    regexp_replace(lower(text), '[^a-z0-9 ]', '_', 'g') AS s
             |  FROM documents),
             |bg AS (SELECT doc_id, unnest(CASE WHEN length(s) >= 2
             |    THEN list_transform(range(1, length(s)), i -> substr(s, i, 2))
             |    ELSE [] END) AS b FROM t),
             |m AS (SELECT b, count(*) AS cbg FROM bg GROUP BY 1),
             |cx AS (SELECT substr(b, 1, 1) AS c, sum(cbg) AS cctx
             |  FROM m GROUP BY 1),
             |a AS (SELECT bg.doc_id, avg(ln((m.cbg + 1)::DOUBLE
             |    / (cx.cctx + 38))) AS alp
             |  FROM bg JOIN m USING (b)
             |  JOIN cx ON cx.c = substr(bg.b, 1, 1)
             |  GROUP BY 1),
             |px AS (SELECT d.doc_id, d.source,
             |    round(exp(-coalesce(a.alp, 0.0)), 6) AS perplexity
             |  FROM documents d LEFT JOIN a USING (doc_id))
             |SELECT doc_id, source, perplexity,
             |  ntile(3) OVER (PARTITION BY source
             |    ORDER BY perplexity, doc_id)::BIGINT AS bucket
             |FROM px ORDER BY 1""".stripMargin)),

    // -- signed random projection (JL embedding, md5-parity ±1 matrix) ---
    // one native dot per output dim against a literal ±1 row; the twin
    // rebuilds the same parity matrix from md5
    "embed_random_projection" -> Gated(
      (s, d) => Embed.randomProjectSigned(
          TestData.table(s, d, "embeddings"), outDim = 16)
        .select(col("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), col("pos").cast("long").as("j"),
          round(col("col"), 6).as("y"))
        .orderBy(col("vec_id"), col("j")),
      Some(s"""WITH m AS (SELECT d, j,
              |    CASE WHEN ${md5Int60Sql(
                     "'rp|' || d::VARCHAR || '|' || j::VARCHAR")} % 2 = 0
              |      THEN 1.0 ELSE -1.0 END AS r
              |  FROM range(64) t(d), range(16) s2(j))
              |SELECT vec_id, j,
              |  round(sum(embedding[d + 1]::DOUBLE * r), 6) AS y
              |FROM embeddings, m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- exact k-NN graph (brute-force verification regime) --------------
    "embed_knn_graph" -> Gated(
      (s, d) => Embed.knnGraph(TestData.table(s, d, "embeddings"), k = 5)
        .orderBy(col("qid"), col("rnk")),
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings
             |  WHERE list_sum(list_transform(embedding,
             |    x -> x::DOUBLE * x)) > 0),
             |s AS (SELECT q.vec_id AS qid, n.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, n.v), 6) AS score
             |  FROM e q JOIN e n ON n.vec_id <> q.vec_id),
             |r AS (SELECT *, row_number() OVER (PARTITION BY qid
             |    ORDER BY score DESC, neighbor_id ASC)::BIGINT AS rnk
             |  FROM s)
             |SELECT qid, neighbor_id, score, rnk FROM r
             |WHERE rnk <= 5 ORDER BY 1, 4""".stripMargin)),

    // -- IVF-celled k-NN graph (the scale path: probe 2 of 4 cells) ------
    // centroids = one Lloyd step from the vec_id<4 init (the
    // embed_kmeans machinery), means rounded 6 on BOTH sides so the
    // whole graph replays; candidates per query = probed cells only
    "embed_knn_graph_ivf" -> Gated(
      (s, d) => Embed.knnGraphCells(TestData.table(s, d, "embeddings"),
          k = 5, ivfCentroids(s, d), probes = 2)
        .orderBy(col("qid"), col("rnk")),
      Some(s"""WITH $ivfKnnCtes
              |SELECT qid, neighbor_id, score, rnk FROM r
              |WHERE rnk <= 5 ORDER BY 1, 4""".stripMargin)),

    // -- seasonal-adjusted anomaly flags ---------------------------------
    // |remainder| > 2σ of the series' remainders, AFTER removing trend
    // and the per-phase seasonal component; both operands rounded 6
    // before the compare so the flag replays bit-stably
    "ts_anomaly_seasonal" -> Gated(
      (s, d) => TsAnalytics.seasonalAnomalies(
          TestData.events(s, d).samples, Seq("metric"), "ts", "value",
          bucketNs = H6, period = 5, nSigma = 2.0)
        .select(col("metric"), col("bucket"),
          round(col("value"), 6).as("value"),
          round(col("expected"), 6).as("expected"),
          round(col("remainder"), 6).as("remainder"),
          col("is_anomaly"))
        .orderBy(col("metric"), col("bucket")),
      Some(s"""WITH b AS (SELECT event_type AS metric, $tsSql // $H6 AS bi,
              |    avg(value) AS v
              |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
              |t AS (SELECT *, CASE WHEN count(v) OVER w = 5
              |      THEN avg(v) OVER w END AS trend
              |  FROM b WINDOW w AS (PARTITION BY metric ORDER BY bi
              |    RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
              |dt AS (SELECT *, bi % 5 AS phase, v - trend AS detr FROM t),
              |pm AS (SELECT metric, phase, avg(detr) AS smean
              |  FROM dt GROUP BY 1, 2),
              |pc AS (SELECT metric, phase,
              |    smean - avg(smean) OVER (PARTITION BY metric) AS seasonal
              |  FROM pm),
              |j AS (SELECT dt.metric, dt.bi, dt.v, dt.trend, pc.seasonal,
              |    dt.v - dt.trend - pc.seasonal AS rem
              |  FROM dt JOIN pc ON dt.metric = pc.metric
              |    AND dt.phase = pc.phase),
              |sd AS (SELECT *,
              |    stddev_samp(rem) OVER (PARTITION BY metric) AS sdv
              |  FROM j)
              |SELECT metric, bi * $H6 AS bucket, round(v, 6) AS value,
              |  round(trend + seasonal, 6) AS expected,
              |  round(rem, 6) AS remainder,
              |  CASE WHEN rem IS NOT NULL
              |    THEN round(abs(rem), 6) > round(2.0 * sdv, 6)
              |  END AS is_anomaly
              |FROM sd ORDER BY 1, 2""".stripMargin)),

    // -- CUSUM change-point detection ------------------------------------
    // per series: argmax |Σ(x - mean)| and the before/after level shift;
    // the running sum is order-deterministic on both engines, and the
    // series mean is pre-rounded, so the statistic is bit-stable
    "ts_changepoint" -> Gated(
      (s, d) => TsAnalytics.changePoints(
          TestData.events(s, d).samples, Seq("metric"), "ts", "value")
        .orderBy(col("metric")),
      Some(s"""WITH s0 AS (SELECT event_type AS metric, $tsSql AS t, value
              |  FROM events WHERE value IS NOT NULL),
              |agg AS (SELECT metric, t, max(value) AS v
              |  FROM s0 GROUP BY 1, 2),
              |w AS (SELECT metric, t, v,
              |    round(avg(v) OVER (PARTITION BY metric), 6) AS m,
              |    count(*) OVER (PARTITION BY metric) AS n,
              |    sum(v) OVER (PARTITION BY metric) AS tot,
              |    sum(v) OVER (PARTITION BY metric ORDER BY t
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              |    count(*) OVER (PARTITION BY metric ORDER BY t
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
              |  FROM agg),
              |sc AS (SELECT *, round(abs(cum - i * m), 6) AS s FROM w),
              |r AS (SELECT *, row_number() OVER (PARTITION BY metric
              |    ORDER BY s DESC, t ASC) AS rnk FROM sc)
              |SELECT metric, t AS cp_ts, n, s AS cusum_max,
              |  round(cum / i, 6) AS before_mean,
              |  CASE WHEN n > i
              |    THEN round((tot - cum) / (n - i), 6) END AS after_mean,
              |  CASE WHEN n > i
              |    THEN round((tot - cum) / (n - i) - cum / i, 6)
              |  END AS delta
              |FROM r WHERE rnk = 1 ORDER BY 1""".stripMargin)),

    // -- dominant embedding direction via distributed power iteration ----
    // per-iteration rounded state makes the whole chain replayable; the
    // per-dim sums map-side combine to `dim` rows per task
    "embed_pca_power" -> Gated(
      (s, d) => Embed.powerComponent(
          TestData.table(s, d, "embeddings"), iters = 8)
        .select(col("dim").cast("long").as("dim"), col("w"),
          col("eigenvalue"))
        .orderBy(col("dim")),
      Some(pcaPowerOracle(iters = 8, dim = 64))),

    // -- interval overlap join: coinciding activity windows --------------
    // click vs view day-long windows per user; bucketized equi-join
    // counts each pair once at the canonical bucket — the oracle is the
    // plain theta join
    "ts_interval_join" -> Gated(
      (s, d) => {
        val ev = TestData.eventsRaw(s, d)
        val l = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("lid"),
            col("ts").as("ivl_start"), (col("ts") + lit(Day)).as("ivl_end"))
        val r = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("rid"),
            col("ts").as("ivl_start"), (col("ts") + lit(Day)).as("ivl_end"))
        EventOps.intervalJoin(l, r, Seq("user_id"), "ivl_start", "ivl_end",
            bucketNs = Day, rightCols = Seq("rid"))
          .orderBy(col("user_id"), col("lid"), col("rid_r"))
      },
      Some(s"""WITH e AS (SELECT event_id, user_id, event_type,
              |    $tsSql AS t FROM events),
              |l AS (SELECT user_id, event_id AS lid, t AS ivl_start,
              |    t + $Day AS ivl_end FROM e
              |  WHERE event_type = 'click'),
              |r AS (SELECT user_id, event_id AS rid_r, t AS ivl_start_r,
              |    t + $Day AS ivl_end_r FROM e
              |  WHERE event_type = 'view')
              |SELECT l.user_id, lid, ivl_start, ivl_end, rid_r,
              |  ivl_start_r, ivl_end_r,
              |  least(ivl_end, ivl_end_r)
              |    - greatest(ivl_start, ivl_start_r) AS overlap_ns
              |FROM l JOIN r ON l.user_id = r.user_id
              |  AND greatest(ivl_start, ivl_start_r)
              |    <= least(ivl_end, ivl_end_r)
              |ORDER BY 1, 2, 5""".stripMargin)),

    // -- multimodal: energy VAD over audio rows --------------------------
    // digest fakes read bytes as centered 8-bit samples (the mm_*
    // convention: real WAVs take the javax.sound path, covered in
    // LlmSpec); 64-byte payloads / frame 16 -> 4 frames, voiced =
    // frame rms > 0.5 x global rms, gaps-and-islands longest run
    "mm_vad" -> Gated(
      (s, d) => Multimodal.vadAudio(
          Multimodal.fromDocuments(TestData.table(s, d, "documents")),
          frame = 16, thresholdFrac = 0.5)
        .select(col("media_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("n_voiced").cast("long").as("n_voiced"),
          round(col("voiced_ratio"), 6).as("voiced_ratio"),
          col("max_run").cast("long").as("max_run"), col("vad_ok"))
        .orderBy(col("media_id")),
      Some("""WITH h AS (SELECT doc_id AS media_id, sha256(text) AS hx
             |  FROM documents WHERE doc_id % 3 = 1),
             |s AS (SELECT media_id, j,
             |    (ord(substr(hx, j, 1)) - 128) / 128.0 AS v,
             |    (j - 1) // 16 AS f
             |  FROM h, generate_series(1, 64) t(j)),
             |fr AS (SELECT media_id, f, sqrt(avg(v * v)) AS frms
             |  FROM s GROUP BY 1, 2),
             |g AS (SELECT media_id, sqrt(avg(v * v)) AS grms
             |  FROM s GROUP BY 1),
             |vo AS (SELECT fr.media_id, f,
             |    (round(frms, 9) > round(0.5 * grms, 9)) AS voiced
             |  FROM fr JOIN g USING (media_id)),
             |runs AS (SELECT media_id, voiced,
             |    f - row_number() OVER (PARTITION BY media_id, voiced
             |      ORDER BY f) AS grp FROM vo),
             |mr AS (SELECT media_id, max(cnt) AS max_run FROM (
             |    SELECT media_id, count(*) AS cnt FROM runs
             |    WHERE voiced GROUP BY media_id, grp) GROUP BY 1),
             |agg AS (SELECT media_id, count(*) AS n_frames,
             |    sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS n_voiced
             |  FROM vo GROUP BY 1)
             |SELECT a.media_id, a.n_frames, a.n_voiced,
             |  round(a.n_voiced::DOUBLE / a.n_frames, 6) AS voiced_ratio,
             |  coalesce(mr.max_run, 0) AS max_run, TRUE AS vad_ok
             |FROM agg a LEFT JOIN mr USING (media_id)
             |ORDER BY 1""".stripMargin)),

    // -- per-frame audio features: RMS + zero-crossing rate --------------
    // same digest-fake sample replay as mm_vad; crossings via a lag
    // window over the in-frame sample order
    "mm_audio_features" -> Gated(
      (s, d) => Multimodal.audioFrameFeatures(
          Multimodal.fromDocuments(TestData.table(s, d, "documents")),
          frame = 16)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          round(col("rms"), 6).as("rms"), round(col("zcr"), 6).as("zcr"))
        .orderBy(col("media_id"), col("frame_idx")),
      Some("""WITH h AS (SELECT doc_id AS media_id, sha256(text) AS hx
             |  FROM documents WHERE doc_id % 3 = 1),
             |s AS (SELECT media_id, j,
             |    (ord(substr(hx, j, 1)) - 128) / 128.0 AS v,
             |    (j - 1) // 16 AS f
             |  FROM h, generate_series(1, 64) t(j)),
             |cr AS (SELECT media_id, f, v,
             |    CASE WHEN lag(v) OVER w IS NOT NULL
             |      AND (v < 0) <> (lag(v) OVER w < 0) THEN 1 ELSE 0 END AS x
             |  FROM s WINDOW w AS (PARTITION BY media_id, f ORDER BY j))
             |SELECT media_id, f AS frame_idx,
             |  round(round(sqrt(avg(v * v)), 9), 6) AS rms,
             |  round(round(sum(x)::DOUBLE / 15, 9), 6) AS zcr
             |FROM cr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- video near-dup: shared per-frame perceptual hashes --------------
    // id-shifted replica corpus (shift divisible by 3 and 30000 keeps
    // modality AND duration identical) so every video pairs with its
    // replica on ALL its frames; the fake frame hash is md5-60 of
    // (hex ':' offset), replayed bit-for-bit by the oracle
    "mm_video_near_dup" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
          .select(col("doc_id"), col("text"))
        val both = docs.unionByName(docs.select(
          (col("doc_id") + 30000000L).as("doc_id"), col("text")))
        Multimodal.videoNearDup(Multimodal.fromDocuments(both),
            everyMs = 1000L, minShared = 2)
          .orderBy(col("a"), col("b"))
      },
      Some(s"""WITH v AS (SELECT doc_id AS id, sha256(text) AS hex,
              |    doc_id % 30000 + 1000 AS dur
              |  FROM documents WHERE doc_id % 3 = 2),
              |vv AS (SELECT id, hex, dur FROM v
              |  UNION ALL SELECT id + 30000000, hex, dur FROM v),
              |fr AS (SELECT id, hex,
              |    unnest(generate_series(0, dur - 1, 1000)) AS ms
              |  FROM vv),
              |fh AS (SELECT DISTINCT id,
              |    ${md5Int60Sql("hex || ':' || ms")} AS fhash
              |  FROM fr),
              |own AS (SELECT fhash FROM fh
              |  GROUP BY 1 HAVING count(*) <= 1000),
              |sf AS (SELECT fh.* FROM fh JOIN own USING (fhash))
              |SELECT a.id AS a, b.id AS b, count(*) AS n_shared
              |FROM sf a JOIN sf b ON a.fhash = b.fhash AND a.id < b.id
              |GROUP BY 1, 2 HAVING count(*) >= 2
              |ORDER BY 1, 2""".stripMargin)),

    // -- autocorrelation: the period detector for seasonalDecompose ------
    // bucket means, then corr(v_t, v_{t+k}) per (series, lag) over the
    // tiny bucket frame; zero-variance lags are null on both sides
    "ts_acf" -> Gated(
      (s, d) => TsAnalytics.autocorrelation(
          TestData.events(s, d).samples, Seq("metric"), "ts", "value",
          bucketNs = H6, maxLag = 8)
        .orderBy(col("metric"), col("lag")),
      Some(s"""WITH b AS (SELECT event_type AS metric,
              |    $tsSql // $H6 AS bi, avg(value) AS v
              |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
              |SELECT l.metric, k.lag, count(*) AS n,
              |  round(corr(l.v, r.v), 6) AS acf
              |FROM b l CROSS JOIN (SELECT unnest(range(1, 9)) AS lag) k
              |JOIN b r ON r.metric = l.metric AND r.bi = l.bi + k.lag
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- hash-sampled quantiles: bounded-memory percentiles at scale -----
    // md5-fraction row sample (dropped before any shuffle) + exact
    // interpolated percentile over the sample — deterministic and
    // replayable, unlike approx_percentile's engine-private sketch
    "ts_quantile_sampled" -> Gated(
      (s, d) => TsAnalytics.sampledQuantiles(
          TestData.eventsRaw(s, d)
            .withColumn("metric", col("event_type")),
          Seq("metric"), "event_id", "value", theta = 0.25,
          probs = Seq(0.5, 0.95))
        .orderBy(col("metric")),
      Some(s"""SELECT event_type AS metric, count(value) AS n_sampled,
              |  round(quantile_cont(value, 0.5), 6) AS p50,
              |  round(quantile_cont(value, 0.95), 6) AS p95
              |FROM events
              |WHERE ${md5FracSql("event_id::VARCHAR")} < 0.25
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- mutual-kNN clustering: cluster count falls out of the data ------
    // reciprocated top-3 edges (hub suppression) -> connected
    // components; the twin replays the graph, the mutual filter, and a
    // recursive transitive closure
    // clusters are built from the IVF-CELLED graph — the 100x-safe
    // plan is the one the gate + bench exercise (the brute graph stays
    // the spec-level truth in LlmSpec); the oracle replays the same
    // celled graph via the shared CTE chain
    "embed_knn_clusters" -> Gated(
      (s, d) => Embed.knnClusters(
          Embed.knnGraphCells(TestData.table(s, d, "embeddings"),
            k = 3, ivfCentroids(s, d), probes = 2))
        .orderBy(col("vec_id")),
      Some(s"""WITH RECURSIVE $ivfKnnCtes,
             |kn AS (SELECT qid, neighbor_id FROM r WHERE rnk <= 3),
             |mu AS (SELECT l.qid AS a, l.neighbor_id AS b
             |  FROM kn l JOIN kn m ON l.qid = m.neighbor_id
             |    AND l.neighbor_id = m.qid
             |  WHERE l.qid < l.neighbor_id),
             |edges AS (SELECT a AS u, b AS v FROM mu
             |  UNION SELECT b, a FROM mu),
             |reach(u, v) AS (SELECT u, v FROM edges
             |  UNION SELECT rr.u, e2.v FROM reach rr
             |    JOIN edges e2 ON rr.v = e2.u)
             |SELECT u AS vec_id, least(u, min(v)) AS cluster
             |FROM reach GROUP BY u ORDER BY 1""".stripMargin)),

    // -- embedding rails end-to-end under ONE profile (VERDICT r13 #5) ---
    // The embedding sibling of doc_e2e_pipeline: train -> writeLayout ->
    // append -> star semantic dedup -> mutual-kNN clusters, composed via
    // EmbedProfile.serving (kmeansIters = 1 so the Lloyd pass replays in
    // the oracle — the preset's 5 iterations change the model, not the
    // handoff shapes under test). Stage reconciliations are hard
    // require()s: the append must land every row AND route via the
    // layout's persisted sidecar (cells == the flat rounded assignment
    // of the trained centroids). The trained centroids are rounded to 6
    // before downstream use — the layout's own external-replay
    // convention, applied to the model it serves.
    "embed_e2e_serving" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val tmp = TestData.scratch("graft_e2e_emb", d)
        val profile = graft.llm.EmbedProfile.serving.copy(kmeansIters = 1)
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        val cents = profile.trainCentroids(emb, k = 4, init = Some(init))
          .map(_.map(x => BigDecimal(x)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        profile.writeLayout(emb.filter(col("vec_id") % 2 === 0), tmp,
          nCentroids = 4, centroids = Some(cents))
        profile.append(emb.filter(col("vec_id") % 2 =!= 0), tmp,
          batchId = Some("e2e_b1"))
        val stored = s.read.parquet(tmp)
        require(stored.count() == emb.count(),
          "e2e layout append lost/duplicated rows")
        val flat = emb.select(col("vec_id"),
          element_at(graft.functions.VecMath.centroidTopCells(
            col("embedding"), cents, 1, rounded = true), 1).as("__want"))
        require(stored.select(col("vec_id"), col("ivf_cell"))
          .join(flat, "vec_id")
          .filter(col("ivf_cell") =!= col("__want")).count() == 0,
          "e2e append routed differently than the layout build")
        val corpus = stored.select(col("vec_id"), col("embedding"))
        val survivors = profile.semDedup(corpus, cents, threshold = 0.4)
          .select(col("vec_id"))
        profile.knnClusters(
            corpus.join(survivors, Seq("vec_id"), "left_semi"),
            k = 3, cents)
          .orderBy(col("vec_id"))
      },
      Some("""WITH RECURSIVE
             |e0 AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |n AS MATERIALIZED (SELECT vec_id, v, list_transform(v, x ->
             |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
             |  FROM e0),
             |init AS (SELECT vec_id::INT AS cid, u FROM n WHERE vec_id < 4),
             |asg0 AS (SELECT vec_id, cid FROM (
             |    SELECT n.vec_id, init.cid,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY round(list_cosine_similarity(n.u, init.u), 6)
             |          DESC, init.cid DESC) AS rn
             |    FROM n CROSS JOIN init) WHERE rn = 1),
             |cm AS (SELECT a.cid AS cell, (i - 1)::INT AS dim, avg(n.u[i]) AS m
             |  FROM asg0 a JOIN n USING (vec_id) CROSS JOIN
             |    (SELECT unnest(generate_series(1, 64)) AS i)
             |  GROUP BY 1, 2),
             |cv0 AS (SELECT cell, list(m ORDER BY dim) AS mv
             |  FROM cm GROUP BY cell),
             |cent AS MATERIALIZED (SELECT init.cid AS cell,
             |    CASE WHEN cv0.mv IS NULL
             |      THEN list_transform(init.u, x -> round(x, 6))
             |      ELSE list_transform(cv0.mv, x -> round(
             |        x / sqrt(list_sum(list_transform(cv0.mv,
             |          y -> y * y))), 6)) END AS cv
             |  FROM init LEFT JOIN cv0 ON cv0.cell = init.cid),
             |e AS MATERIALIZED (SELECT vec_id, v FROM e0
             |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
             |asg AS MATERIALIZED (SELECT vec_id, cell FROM (
             |    SELECT e.vec_id, cent.cell,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6)
             |          DESC, cent.cell DESC) AS rn
             |    FROM e CROSS JOIN cent) WHERE rn = 1),
             |hubs AS (SELECT cell, min(vec_id) AS hub FROM asg GROUP BY 1),
             |losers AS (SELECT a.vec_id
             |  FROM asg a JOIN hubs h USING (cell)
             |  JOIN e m ON m.vec_id = a.vec_id
             |  JOIN e x ON x.vec_id = h.hub
             |  WHERE a.vec_id <> h.hub
             |    AND round(list_cosine_similarity(m.v, x.v), 6) >= 0.4),
             |sv AS MATERIALIZED (SELECT e.vec_id, e.v FROM e
             |  WHERE e.vec_id NOT IN (SELECT vec_id FROM losers)),
             |pq AS (SELECT vec_id AS qid, v AS qv, cell FROM (
             |    SELECT sv.vec_id, sv.v, cent.cell,
             |      row_number() OVER (PARTITION BY sv.vec_id
             |        ORDER BY round(list_cosine_similarity(sv.v, cent.cv), 6)
             |          DESC, cent.cell DESC) AS rn
             |    FROM sv CROSS JOIN cent) WHERE rn <= 2),
             |nb AS (SELECT s2.vec_id, a.cell, s2.v
             |  FROM sv s2 JOIN asg a USING (vec_id)),
             |sp AS (SELECT pq.qid, nb.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(pq.qv, nb.v), 6) AS score
             |  FROM pq JOIN nb USING (cell) WHERE nb.vec_id <> pq.qid),
             |r AS (SELECT *, row_number() OVER (PARTITION BY qid
             |    ORDER BY score DESC, neighbor_id ASC)::BIGINT AS rnk
             |  FROM sp),
             |kn AS (SELECT qid, neighbor_id FROM r WHERE rnk <= 3),
             |mu AS (SELECT l.qid AS a, l.neighbor_id AS b
             |  FROM kn l JOIN kn m2 ON l.qid = m2.neighbor_id
             |    AND l.neighbor_id = m2.qid
             |  WHERE l.qid < l.neighbor_id),
             |edges AS (SELECT a AS eu, b AS ev FROM mu
             |  UNION SELECT b, a FROM mu),
             |reach(eu, ev) AS (SELECT eu, ev FROM edges
             |  UNION SELECT rr.eu, g2.ev FROM reach rr
             |    JOIN edges g2 ON rr.ev = g2.eu)
             |SELECT eu AS vec_id, least(eu, min(ev)) AS cluster
             |FROM reach GROUP BY eu ORDER BY 1""".stripMargin)),

    // -- cross-correlation: lead/lag between two metrics -----------------
    "ts_ccf" -> Gated(
      (s, d) => {
        val ev = TestData.events(s, d).samples
        TsAnalytics.crossCorrelation(
            ev.filter(col("metric") === "click"),
            ev.filter(col("metric") === "purchase"),
            "ts", "value", bucketNs = H6, maxLag = 6)
          .orderBy(col("lag"))
      },
      Some(s"""WITH a AS (SELECT $tsSql // $H6 AS bi, avg(value) AS v
              |  FROM events WHERE event_type = 'click'
              |    AND value IS NOT NULL GROUP BY 1),
              |b AS (SELECT $tsSql // $H6 AS bi, avg(value) AS v
              |  FROM events WHERE event_type = 'purchase'
              |    AND value IS NOT NULL GROUP BY 1)
              |SELECT k.lag, count(*) AS n, round(corr(a.v, b.v), 6) AS ccf
              |FROM a CROSS JOIN (SELECT unnest(range(-6, 7)) AS lag) k
              |JOIN b ON b.bi = a.bi + k.lag
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- cohort retention: do week-1 users come back in week 3? ----------
    "ts_cohort_retention" -> Gated(
      (s, d) => EventOps.cohortRetention(
          TestData.eventsRaw(s, d), "user_id", "ts", bucketNs = 7 * Day)
        .orderBy(col("cohort"), col("age")),
      Some(s"""WITH act AS (SELECT DISTINCT user_id AS u,
              |    $tsSql // ${7 * Day} AS b FROM events),
              |f AS (SELECT u, min(b) AS c FROM act GROUP BY 1),
              |cs AS (SELECT c, count(*) AS n_cohort FROM f GROUP BY 1),
              |aa AS (SELECT f.c, act.b - f.c AS age, count(*) AS n_active
              |  FROM act JOIN f USING (u) GROUP BY 1, 2)
              |SELECT aa.c * ${7 * Day} AS cohort, aa.age, aa.n_active,
              |  cs.n_cohort,
              |  round(aa.n_active::DOUBLE / cs.n_cohort, 6) AS retention
              |FROM aa JOIN cs USING (c) ORDER BY 1, 2""".stripMargin)),

    // -- funnel: ordered step completion within a window -----------------
    // greedy earliest-qualifying-event funnel, every step strictly after
    // the previous and the chain within 14 days of step 1
    "ts_funnel" -> Gated(
      (s, d) => EventOps.funnel(TestData.eventsRaw(s, d), "user_id",
          "ts", "event_type", Seq("signup", "click", "purchase"),
          windowNs = 14 * Day)
        .orderBy(col("step_idx")),
      Some(s"""WITH e AS (SELECT user_id AS u, $tsSql AS t,
              |    event_type AS k FROM events),
              |s1 AS (SELECT u, min(t) AS t1 FROM e
              |  WHERE k = 'signup' GROUP BY 1),
              |s2 AS (SELECT e.u, s1.t1, min(e.t) AS t2
              |  FROM e JOIN s1 ON e.u = s1.u
              |  WHERE e.k = 'click' AND e.t > s1.t1
              |    AND e.t <= s1.t1 + ${14 * Day} GROUP BY 1, 2),
              |s3 AS (SELECT e.u, s2.t1, min(e.t) AS t3
              |  FROM e JOIN s2 ON e.u = s2.u
              |  WHERE e.k = 'purchase' AND e.t > s2.t2
              |    AND e.t <= s2.t1 + ${14 * Day} GROUP BY 1, 2)
              |SELECT * FROM (VALUES
              |  (1::BIGINT, 'signup', (SELECT count(*) FROM s1)),
              |  (2::BIGINT, 'click', (SELECT count(*) FROM s2)),
              |  (3::BIGINT, 'purchase', (SELECT count(*) FROM s3)))
              |  t(step_idx, step, n_users)
              |ORDER BY 1""".stripMargin)),

    // -- end-to-end dedup pipeline: candidates -> clusters -> keep best --
    // the full production shape: MinHash-LSH pairs, connected
    // components, then ONE survivor per cluster (longest text, ties to
    // the smallest id) plus all unclustered docs
    "doc_dedup_pipeline" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val clusters = Dedup.connectedComponents(
          Dedup.minhashLsh(docs, n = 3, bands = 64, rowsPerBand = 2,
            threshold = 0.5))
        Dedup.dedupKeepBest(docs, clusters, col("n_chars").cast("double"))
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM toks),
             |pairs AS (
             |  SELECT a, b FROM (
             |    SELECT x.doc_id AS a, y.doc_id AS b,
             |      len(list_intersect(x.g, y.g))::DOUBLE /
             |        (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS j
             |    FROM grams x JOIN grams y ON x.doc_id < y.doc_id)
             |  WHERE j >= 0.5),
             |edges AS (
             |  SELECT a AS u, b AS v FROM pairs
             |  UNION SELECT b, a FROM pairs),
             |reach(u, v) AS (
             |  SELECT u, v FROM edges
             |  UNION
             |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
             |, comp AS (SELECT u AS node, least(u, min(v)) AS component
             |  FROM reach GROUP BY u),
             |best AS (SELECT node FROM (
             |    SELECT c.node, row_number() OVER (PARTITION BY c.component
             |      ORDER BY d.n_chars DESC, c.node ASC) AS rn
             |    FROM comp c JOIN documents d ON d.doc_id = c.node)
             |  WHERE rn = 1)
             |SELECT doc_id FROM documents
             |WHERE doc_id NOT IN (SELECT node FROM comp)
             |   OR doc_id IN (SELECT node FROM best)
             |ORDER BY 1""".stripMargin)),

    // -- END-TO-END pipeline composition: the advertised production chain
    // as ONE gate — jsonl ingest (corrupt-line quarantine) → normalize →
    // gopher quality filter → exact dedup → near-dup star dedup
    // (LSH + CC + keep-best) → benchmark decontamination → water-filled
    // corpus mix → sequence packing → hash-sharded export, with the
    // final shard layout read BACK from disk. Per-op gates cannot catch
    // inter-stage schema/contract drift; the reference's own golden test
    // is the same shape end-to-end (functests/roundtrip.sh:8-27 — ingest
    // → query → diff as one artifact). Output: one row per exported doc
    // with its shard id, normalized length, and packed-sequence span.
    "doc_e2e_pipeline" -> Gated(
      (s, d) => {
        val raw = TestData.table(s, d, "documents")
        val tmpJ = TestData.scratch("graft_e2e_jsonl", d)
        val tmpS = TestData.scratch("graft_e2e_shards", d)
        val js = to_json(struct(col("doc_id"), col("text"), col("source")))
        raw.select(when(col("doc_id") % 17 === 0,
            concat(lit("{corrupt "), js)).otherwise(js).as("value"))
          .write.mode("overwrite").text(tmpJ)
        val ingested = CorpusIo.readJsonl(s, tmpJ,
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING, source STRING"))
        val normed = ingested.withColumn("text",
          Text.normalizeText(col("text")))
        val kept = normed.join(
          Text.gopherRules(normed).filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        // stage boundaries are localCheckpoint-materialized, exactly as
        // a production pipeline lands each stage once: the un-cut
        // lineage re-executes the whole prefix per downstream reference
        // (exDocs alone is referenced 4x) and multiplies the logical
        // plan per stage. Row content is unchanged — the oracle hashes
        // the same result either way.
        val exDocs = kept.join(
          Dedup.exact(kept).select(col("keep_doc_id").as("doc_id")),
          Seq("doc_id"), "left_semi").localCheckpoint()
        val near = Dedup.dedupKeepBest(exDocs,
          Dedup.connectedComponents(
            Dedup.minhashLshStar(exDocs, n = 3, bands = 64,
              rowsPerBand = 2, threshold = 0.5)),
          length(col("text")).cast("double")).localCheckpoint()
        // benchmark = FIXED doc ids, not a modulus class: the bench gram
        // set must stay constant across scale factors, or the stage's
        // drop rate grows with corpus size until it empties the pipeline
        // (a % 50 bench at sf0.1 is 100 template-generated docs whose
        // grams cover ~90% of the corpus at minHits 3)
        val clean = near.join(
          Dedup.decontaminate(near,
              raw.filter(col("doc_id").isin(3L, 53L, 103L)),
              n = 3, minHits = 3)
            .filter(!col("contaminated")).select("doc_id"),
          Seq("doc_id"), "left_semi").localCheckpoint()
        val stratum = when(Text.tokenCount(col("text")) < 70, "short")
          .when(Text.tokenCount(col("text")) < 85, "medium")
          .otherwise("long")
        // plan the mix with mixRates (water-filling), then apply it —
        // the collect is 3 stratum rows, model-scale by construction
        val rates = Sample.mixRates(clean.withColumn("stratum", stratum),
            "stratum",
            Seq("short" -> 0.2, "medium" -> 0.5, "long" -> 0.3))
          .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
        val mixed = Sample.mix(clean, stratum, rates, defaultRate = 0.0,
          seed = "e2emix").localCheckpoint()
        val packed = Sample.pack(mixed, Text.tokenCount(col("text")),
          seqLen = 512, buckets = 16, seed = "e2epack")
        CorpusIo.writeShards(
          mixed.select(col("doc_id"), col("text"), col("source")),
          tmpS, nShards = 8)
        s.read.parquet(tmpS)
          .select(col("doc_id"), col("shard").cast("int").as("shard"),
            length(col("text")).as("n_chars"))
          .join(packed.groupBy("doc_id").agg(
              count(lit(1)).as("n_seqs"),
              min(col("seq_id")).as("first_seq")),
            Seq("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE
             |ing AS (SELECT doc_id, text, source FROM documents
             |  WHERE doc_id % 17 <> 0),
             |norm AS MATERIALIZED (SELECT doc_id, source,
             |  trim(regexp_replace(regexp_replace(nfc_normalize(text),
             |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
             |  '[ \t]+', ' ', 'g')) AS nt
             |  FROM ing),
             |gsig AS (SELECT doc_id, source, nt,
             |    string_split_regex(trim(nt), '\\s+') AS w,
             |    string_split(nt, chr(10)) AS ln,
             |    ((len(nt) - len(replace(nt, '#', '')))
             |     + (len(nt) - len(replace(nt, '...', ''))) / 3)::DOUBLE AS sym
             |  FROM norm),
             |gkeep AS MATERIALIZED (SELECT doc_id, source, nt FROM gsig
             |  WHERE len(w) >= 50 AND len(w) <= 100000
             |    AND round(list_sum(list_transform(w, x -> len(x)))::DOUBLE
             |      / len(w), 6) BETWEEN 3.0 AND 10.0
             |    AND round(sym / len(w), 6) < 0.1
             |    AND round(len(list_filter(ln, l -> substr(trim(l), 1, 1)
             |      IN ('•', '-', '*')))::DOUBLE / len(ln), 6) < 0.9
             |    AND round(len(list_filter(ln, l ->
             |      ends_with(trim(l), '...')))::DOUBLE / len(ln), 6) < 0.3
             |    AND round(len(list_filter(w, x ->
             |      regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(w), 6) > 0.8
             |    AND len(list_filter(w, x -> lower(x) IN
             |      ('the','be','to','of','and','that','have','with'))) >= 2),
             |ex AS MATERIALIZED (SELECT doc_id, source, nt FROM (
             |  SELECT doc_id, source, nt, min(doc_id) OVER (PARTITION BY
             |    md5(lower(regexp_replace(trim(nt), '\\s+', ' ', 'g'))))
             |    AS keep_id
             |  FROM gkeep) WHERE doc_id = keep_id),
             |grams AS MATERIALIZED (SELECT doc_id,
             |  list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM (SELECT doc_id,
             |    string_split_regex(trim(lower(nt)), '\\s+') AS t FROM ex)),
             |prs AS (SELECT a, b FROM (
             |    SELECT x.doc_id AS a, y.doc_id AS b,
             |      len(list_intersect(x.g, y.g))::DOUBLE /
             |        (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g)))
             |        AS j
             |    FROM grams x JOIN grams y ON x.doc_id < y.doc_id)
             |  WHERE j >= 0.5),
             |edges AS (SELECT a AS u, b AS v FROM prs
             |  UNION SELECT b, a FROM prs),
             |reach(u, v) AS (SELECT u, v FROM edges
             |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
             |comp AS MATERIALIZED (SELECT u AS node, least(u, min(v))
             |  AS component FROM reach GROUP BY u),
             |best AS (SELECT node FROM (
             |    SELECT c.node, row_number() OVER (PARTITION BY c.component
             |      ORDER BY length(e.nt) DESC, c.node ASC) AS rn
             |    FROM comp c JOIN ex e ON e.doc_id = c.node)
             |  WHERE rn = 1),
             |near AS MATERIALIZED (SELECT doc_id, source, nt FROM ex
             |  WHERE doc_id NOT IN (SELECT node FROM comp)
             |     OR doc_id IN (SELECT node FROM best)),
             |bgrams AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(range(1, len(t) - 1),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g
             |  FROM (SELECT doc_id,
             |      string_split_regex(trim(lower(text)), '\\s+') AS t
             |    FROM documents WHERE doc_id IN (3, 53, 103))),
             |bench AS MATERIALIZED (SELECT list_distinct(flatten(list(g)))
             |  AS bg FROM bgrams),
             |clean AS MATERIALIZED (SELECT n.doc_id, n.source, n.nt
             |  FROM near n JOIN grams g USING (doc_id) CROSS JOIN bench
             |  WHERE len(list_intersect(g.g, bg)) < 3),
             |strat AS MATERIALIZED (SELECT doc_id, source, nt,
             |    CASE WHEN len(string_split_regex(trim(nt), '\\s+')) < 70
             |           THEN 'short'
             |         WHEN len(string_split_regex(trim(nt), '\\s+')) < 85
             |           THEN 'medium'
             |         ELSE 'long' END AS stratum
             |  FROM clean),
             |cnt AS (SELECT stratum, count(*) AS n FROM strat GROUP BY 1),
             |tgt AS (SELECT stratum, share::DOUBLE AS share FROM (VALUES
             |  ('short', 0.2), ('medium', 0.5), ('long', 0.3))
             |  v(stratum, share)),
             |jn AS (SELECT t.stratum, t.share, coalesce(c.n, 0) AS n
             |  FROM tgt t LEFT JOIN cnt c USING (stratum)),
             |mm AS MATERIALIZED (SELECT min(n / share) AS tt FROM jn),
             |rts AS MATERIALIZED (SELECT stratum, CASE WHEN n > 0
             |    THEN round(floor(share * (SELECT tt FROM mm))::DOUBLE / n, 6)
             |    ELSE 0.0 END AS rate
             |  FROM jn),
             |mixed AS MATERIALIZED (SELECT s.doc_id, s.source, s.nt
             |  FROM strat s JOIN rts r USING (stratum)
             |  WHERE ${md5FracSql("s.doc_id::VARCHAR || 'e2emix'")} < r.rate),
             |pt AS (SELECT doc_id,
             |    len(string_split_regex(trim(nt), '\\s+'))::BIGINT AS n,
             |    ${md5FracSql("doc_id::VARCHAR || 'e2epack'")} AS frac
             |  FROM mixed),
             |po AS (SELECT doc_id, n,
             |    coalesce(sum(n) OVER (ORDER BY frac, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0)::BIGINT AS off
             |  FROM pt WHERE n > 0),
             |px AS (SELECT doc_id,
             |    unnest(generate_series(off // 512, (off + n - 1) // 512))
             |      AS seq_id
             |  FROM po),
             |pagg AS (SELECT doc_id, count(*) AS n_seqs,
             |    min(seq_id) AS first_seq
             |  FROM px GROUP BY 1)
             |SELECT m.doc_id,
             |  (${md5Int60Sql("m.doc_id::VARCHAR")} % 8)::INT AS shard,
             |  length(m.nt) AS n_chars, p.n_seqs, p.first_seq
             |FROM mixed m JOIN pagg p USING (doc_id)
             |ORDER BY 1""".stripMargin)),

    // -- phase percentile bands: the dashboard envelope ------------------
    "ts_phase_bands" -> Gated(
      (s, d) => TsAnalytics.phaseBands(
          TestData.events(s, d).samples, Seq("metric"), "ts", "value",
          bucketNs = 3600L * 1000000000L, period = 24,
          probs = Seq(0.1, 0.5, 0.9))
        .orderBy(col("metric"), col("phase")),
      Some(s"""SELECT event_type AS metric,
              |  ($tsSql // 3600000000000) % 24 AS phase,
              |  count(*) AS n,
              |  round(quantile_cont(value, 0.1), 6) AS p10,
              |  round(quantile_cont(value, 0.5), 6) AS p50,
              |  round(quantile_cont(value, 0.9), 6) AS p90
              |FROM events WHERE value IS NOT NULL
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- duplicate-rate matrix: which sources copy which -----------------
    "doc_dup_matrix" -> Gated(
      (s, d) => Dedup.dupMatrix(TestData.table(s, d, "documents"),
          "source", n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5)
        .orderBy(col("src_a"), col("src_b")),
      Some("""WITH toks AS (SELECT doc_id, source,
             |    string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (SELECT doc_id, source,
             |    list_distinct(CASE WHEN len(t) >= 3
             |      THEN list_transform(range(1, len(t) - 1),
             |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |      ELSE [] END) AS g FROM toks),
             |p AS (SELECT least(x.source, y.source) AS src_a,
             |    greatest(x.source, y.source) AS src_b,
             |    len(list_intersect(x.g, y.g))::DOUBLE /
             |      (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g)))
             |      AS j
             |  FROM grams x JOIN grams y ON x.doc_id < y.doc_id)
             |SELECT src_a, src_b, count(*) AS n_pairs,
             |  round(avg(round(j, 6)), 6) AS mean_jaccard
             |FROM p WHERE j >= 0.5 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- top movers: what jumped in the latest bucket --------------------
    "ts_top_movers" -> Gated(
      (s, d) => TsAnalytics.topMovers(
          TestData.events(s, d).samples
            .withColumn("user", element_at(col("tags"), "user")),
          Seq("metric"), "user", "ts", "value", bucketNs = Day, k = 3)
        .orderBy(col("metric"), col("rnk")),
      Some(s"""WITH b AS (SELECT event_type AS metric,
              |    user_id::VARCHAR AS series, $tsSql // $Day AS bi,
              |    avg(value) AS v
              |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
              |l AS (SELECT *, lag(v) OVER w AS pv,
              |    row_number() OVER (PARTITION BY metric, series
              |      ORDER BY bi DESC) AS rn
              |  FROM b WINDOW w AS (PARTITION BY metric, series
              |    ORDER BY bi)),
              |d AS (SELECT metric, series, bi, v, pv,
              |    round(v - pv, 6) AS delta
              |  FROM l WHERE rn = 1 AND pv IS NOT NULL),
              |r AS (SELECT *, row_number() OVER (PARTITION BY metric
              |    ORDER BY abs(delta) DESC, series ASC)::BIGINT AS rnk
              |  FROM d)
              |SELECT metric, series, bi * $Day AS bucket,
              |  round(v, 6) AS value, round(pv, 6) AS prev, delta, rnk
              |FROM r WHERE rnk <= 3 ORDER BY 1, 7""".stripMargin)),

    // -- phase-aware anomalies: hour-of-day sensitive thresholds ---------
    "ts_anomaly_phase" -> Gated(
      (s, d) => TsAnalytics.phaseAnomalies(
          TestData.events(s, d).samples, Seq("metric"), "ts", "value",
          bucketNs = 3600L * 1000000000L, period = 24, nSigma = 3.0)
        .orderBy(col("metric"), col("ts")),
      Some(s"""WITH b AS (SELECT event_type AS metric, $tsSql AS ts,
              |    value, ($tsSql // 3600000000000) % 24 AS phase
              |  FROM events WHERE value IS NOT NULL),
              |p AS (SELECT metric, phase, avg(value) AS mu,
              |    stddev_samp(value) AS sd
              |  FROM b GROUP BY 1, 2)
              |SELECT b.metric, b.ts, b.value, b.phase,
              |  round(p.mu, 6) AS expected, round(p.sd, 6) AS sd
              |FROM b JOIN p ON b.metric = p.metric AND b.phase = p.phase
              |WHERE p.sd IS NOT NULL AND p.sd > 0
              |  AND round(abs(b.value - p.mu), 6) > round(3.0 * p.sd, 6)
              |ORDER BY 1, 2""".stripMargin)),

    // -- embedding outliers: far from every cluster ----------------------
    "embed_outliers" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        val step = Embed.kmeansStep(emb, init)
          .select(col("cell"), col("dim"), round(col("m"), 6).as("m"))
          .collect()
        val byCell = step.groupBy(_.getInt(0))
        val cents = init.indices.map(c => byCell.get(c).fold(init(c))(
          rs => rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq))
        Embed.embedOutliers(emb, cents, threshold = 0.05)
          .orderBy(col("vec_id"))
      },
      Some("""WITH e0 AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v, list_transform(v, x ->
             |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
             |  FROM e0),
             |init AS (SELECT vec_id::INT AS cid, u FROM n WHERE vec_id < 4),
             |assign0 AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT n.vec_id, init.cid,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY round(list_cosine_similarity(n.u, init.u), 6)
             |          DESC, init.cid DESC) AS rn
             |    FROM n CROSS JOIN init) WHERE rn = 1),
             |mem AS (SELECT a.cid AS cell, n.u
             |  FROM assign0 a JOIN n USING (vec_id)),
             |cm AS (SELECT cell, (i - 1)::INT AS dim, round(avg(u[i]), 6) AS m
             |  FROM mem CROSS JOIN
             |    (SELECT unnest(generate_series(1, 64)) AS i)
             |  GROUP BY 1, 2),
             |cent AS (SELECT cell, list(m ORDER BY dim) AS cv
             |  FROM cm GROUP BY cell),
             |e AS (SELECT vec_id, v FROM e0
             |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
             |sc AS (SELECT e.vec_id, cent.cell,
             |    round(list_cosine_similarity(e.v, cent.cv), 6) AS cs
             |  FROM e CROSS JOIN cent),
             |av AS (SELECT vec_id, cell AS best_cell, cs AS best_cos
             |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
             |      ORDER BY cs DESC, cell DESC) AS rn FROM sc)
             |  WHERE rn = 1)
             |SELECT vec_id, best_cell, best_cos FROM av
             |WHERE best_cos < 0.05 ORDER BY 1""".stripMargin)),

    // -- counter-reset-aware rate (the Prometheus rate() convention) -----
    "ts_rate_resets" -> Gated(
      (s, d) => TsAnalytics.counterRate(
          TestData.events(s, d).samples
            .filter(col("metric") === "click")
            .select(col("metric"),
              element_at(col("tags"), "user").as("user"),
              col("ts"), col("value")),
          Seq("metric", "user"), "ts", "value")
        .orderBy(col("user"), col("ts")),
      Some(s"""WITH s0 AS (SELECT 'click' AS metric,
              |    user_id::VARCHAR AS user, $tsSql AS t, max(value) AS v
              |  FROM events WHERE event_type = 'click'
              |    AND value IS NOT NULL GROUP BY 1, 2, 3),
              |l AS (SELECT *, lag(t) OVER w AS pt, lag(v) OVER w AS pv
              |  FROM s0 WINDOW w AS (PARTITION BY metric, user ORDER BY t))
              |SELECT metric, user, t AS ts,
              |  round((CASE WHEN v >= pv THEN v - pv ELSE v END)
              |    / ((t - pt) / 1e9), 6) AS rate
              |FROM l WHERE pt IS NOT NULL ORDER BY 2, 3""".stripMargin)),

    // -- time-of-day baseline profile ------------------------------------
    "ts_hourly_profile" -> Gated(
      (s, d) => TsAnalytics.phaseProfile(
          TestData.events(s, d).samples, Seq("metric"), "ts", "value",
          bucketNs = 3600L * 1000000000L, period = 24)
        .orderBy(col("metric"), col("phase")),
      Some(s"""SELECT event_type AS metric,
              |  ($tsSql // 3600000000000) % 24 AS phase,
              |  count(*) AS n, round(avg(value), 6) AS v_mean,
              |  round(min(value), 6) AS v_min,
              |  round(max(value), 6) AS v_max
              |FROM events WHERE value IS NOT NULL
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- ANN recall report: the probe-count tuning measurement -----------
    // celled top-5 (2 of 4 probes) vs brute truth for 20 queries, one
    // recall number out; both graphs replay in SQL
    "ann_recall_report" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        val step = Embed.kmeansStep(emb, init)
          .select(col("cell"), col("dim"), round(col("m"), 6).as("m"))
          .collect()
        val byCell = step.groupBy(_.getInt(0))
        val cents = init.indices.map(c => byCell.get(c).fold(init(c))(
          rs => rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq))
        Embed.annRecall(emb, k = 5, cents, probes = 2,
          queryIds = (0L until 20L).toSeq)
      },
      Some("""WITH e0 AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v, list_transform(v, x ->
             |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
             |  FROM e0),
             |init AS (SELECT vec_id::INT AS cid, u FROM n WHERE vec_id < 4),
             |assign0 AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT n.vec_id, init.cid,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY round(list_cosine_similarity(n.u, init.u), 6)
             |          DESC, init.cid DESC) AS rn
             |    FROM n CROSS JOIN init) WHERE rn = 1),
             |mem AS (SELECT a.cid AS cell, n.u
             |  FROM assign0 a JOIN n USING (vec_id)),
             |cm AS (SELECT cell, (i - 1)::INT AS dim, round(avg(u[i]), 6) AS m
             |  FROM mem CROSS JOIN
             |    (SELECT unnest(generate_series(1, 64)) AS i)
             |  GROUP BY 1, 2),
             |cent AS (SELECT cell, list(m ORDER BY dim) AS cv
             |  FROM cm GROUP BY cell),
             |e AS (SELECT vec_id, v FROM e0
             |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
             |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
             |bs AS (SELECT q.qid, e.vec_id AS nid,
             |    round(list_cosine_similarity(q.qv, e.v), 6) AS s
             |  FROM e, q WHERE e.vec_id <> q.qid),
             |bt AS (SELECT qid, nid FROM (SELECT *,
             |    row_number() OVER (PARTITION BY qid
             |      ORDER BY s DESC, nid ASC) AS rn FROM bs) WHERE rn <= 5),
             |sc AS (SELECT e.vec_id, e.v, cent.cell,
             |    round(list_cosine_similarity(e.v, cent.cv), 6) AS cs
             |  FROM e CROSS JOIN cent),
             |av AS (SELECT vec_id AS nid, v, cell FROM (SELECT *,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY cs DESC, cell DESC) AS rn FROM sc)
             |  WHERE rn = 1),
             |qp AS (SELECT vec_id AS qid, v AS qv, cell FROM (SELECT *,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY cs DESC, cell DESC) AS rn FROM sc)
             |  WHERE rn <= 2 AND vec_id < 20),
             |cs2 AS (SELECT qp.qid, av.nid,
             |    round(list_cosine_similarity(qp.qv, av.v), 6) AS s
             |  FROM qp JOIN av USING (cell) WHERE av.nid <> qp.qid),
             |ct AS (SELECT qid, nid FROM (SELECT *,
             |    row_number() OVER (PARTITION BY qid
             |      ORDER BY s DESC, nid ASC) AS rn FROM cs2) WHERE rn <= 5),
             |h AS (SELECT count(*) AS n_hits FROM bt
             |  JOIN ct USING (qid, nid)),
             |t AS (SELECT count(*) AS n_truth FROM bt),
             |nq AS (SELECT count(*) AS n_queries FROM q)
             |SELECT nq.n_queries, 5::BIGINT AS k, t.n_truth, h.n_hits,
             |  round(h.n_hits::DOUBLE / t.n_truth, 6) AS recall
             |FROM nq, t, h""".stripMargin)),

    // -- gap report: feed downtime longer than 2 days per series ---------
    "ts_gaps" -> Gated(
      (s, d) => TsAnalytics.gapReport(
          TestData.events(s, d).samples
            .select(col("metric"), element_at(col("tags"), "user")
              .as("user"), col("ts"))
            .filter(col("user").cast("int") < 30),
          Seq("metric", "user"), "ts", minGapNs = 2 * Day)
        .orderBy(col("metric"), col("user"), col("gap_start")),
      Some(s"""WITH s0 AS (SELECT DISTINCT event_type AS metric,
              |    user_id::VARCHAR AS user, $tsSql AS t
              |  FROM events WHERE user_id < 30),
              |l AS (SELECT metric, user, t,
              |    lag(t) OVER (PARTITION BY metric, user ORDER BY t) AS p
              |  FROM s0)
              |SELECT metric, user, p AS gap_start, t AS gap_end,
              |  t - p AS gap_ns
              |FROM l WHERE p IS NOT NULL AND t - p > ${2 * Day}
              |ORDER BY 1, 2, 3""".stripMargin)),

    // -- fixed-bin value histogram per metric ----------------------------
    "ts_value_histogram" -> Gated(
      (s, d) => TsAnalytics.valueHistogram(
          TestData.events(s, d).samples, Seq("metric"), "value",
          lo = 0.0, hi = 1000.0, bins = 20)
        .orderBy(col("metric"), col("bin")),
      Some("""WITH b AS (SELECT event_type AS metric,
             |    least(greatest(floor((value - 0.0) / 50.0), 0), 19)::BIGINT
             |      AS bin
             |  FROM events WHERE value IS NOT NULL)
             |SELECT metric, bin,
             |  round(0.0 + bin * 50.0, 6) AS bin_lo,
             |  round(0.0 + (bin + 1) * 50.0, 6) AS bin_hi,
             |  count(*) AS n
             |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // -- vocabulary growth: is the crawl still finding fresh content? ----
    // count-only output, so the oracle can use string shingles where
    // the engine uses xxhash64 shingles (distinct counts agree barring
    // ~2^-64 collisions). The split class spells out Java's \s
    // ([ \t\n\x0B\f\r]) rather than RE2's '\s' (which excludes \x0B),
    // and the index list uses inclusive generate_series — both so the
    // oracle is stable across DuckDB builds and corpus contents.
    "doc_vocab_growth" -> Gated(
      (s, d) => Text.vocabGrowth(TestData.table(s, d, "documents"),
          n = 3, batch = 50L)
        .orderBy(col("batch")),
      Some("""WITH toks AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)),
             |      '[ \t\n\x0b\f\r]+') AS t
             |  FROM documents),
             |grams AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(generate_series(1, len(t) - 2),
             |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS g FROM toks),
             |ex AS (SELECT DISTINCT doc_id // 50 AS bk, unnest(g) AS gr
             |  FROM grams),
             |fs AS (SELECT gr, min(bk) AS fb FROM ex GROUP BY 1)
             |SELECT bk * 50 AS batch, count(*) AS n_shingles,
             |  sum(CASE WHEN fb = bk THEN 1 ELSE 0 END) AS n_new,
             |  round(sum(CASE WHEN fb = bk THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*), 6) AS new_frac
             |FROM ex JOIN fs USING (gr) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- cluster quality: member-to-centroid cosine stats per cell -------
    "embed_cluster_stats" -> Gated(
      (s, d) => {
        val emb = TestData.table(s, d, "embeddings")
        val init = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
          .select(Embed.normalized(col("embedding")))
          .collect().toSeq.map(_.getSeq[Double](0).toSeq)
        val step = Embed.kmeansStep(emb, init)
          .select(col("cell"), col("dim"), round(col("m"), 6).as("m"))
          .collect()
        val byCell = step.groupBy(_.getInt(0))
        val cents = init.indices.map(c => byCell.get(c).fold(init(c))(
          rs => rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq))
        Embed.clusterStats(emb, cents).orderBy(col("cell"))
      },
      Some("""WITH e0 AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v, list_transform(v, x ->
             |    x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
             |  FROM e0),
             |init AS (SELECT vec_id::INT AS cid, u FROM n WHERE vec_id < 4),
             |assign0 AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT n.vec_id, init.cid,
             |      row_number() OVER (PARTITION BY n.vec_id
             |        ORDER BY round(list_cosine_similarity(n.u, init.u), 6)
             |          DESC, init.cid DESC) AS rn
             |    FROM n CROSS JOIN init) WHERE rn = 1),
             |mem AS (SELECT a.cid AS cell, n.u
             |  FROM assign0 a JOIN n USING (vec_id)),
             |cm AS (SELECT cell, (i - 1)::INT AS dim, round(avg(u[i]), 6) AS m
             |  FROM mem CROSS JOIN
             |    (SELECT unnest(generate_series(1, 64)) AS i)
             |  GROUP BY 1, 2),
             |cent AS (SELECT cell, list(m ORDER BY dim) AS cv
             |  FROM cm GROUP BY cell),
             |e AS (SELECT vec_id, v FROM e0
             |  WHERE list_sum(list_transform(v, x -> x * x)) > 0),
             |sc AS (SELECT e.vec_id, cent.cell,
             |    round(list_cosine_similarity(e.v, cent.cv), 6) AS cs
             |  FROM e CROSS JOIN cent),
             |av AS (SELECT vec_id, cell, cs FROM (SELECT *,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY cs DESC, cell DESC) AS rn FROM sc)
             |  WHERE rn = 1)
             |SELECT cell, count(*) AS n, round(avg(cs), 6) AS mean_cos,
             |  min(cs) AS min_cos, max(cs) AS max_cos
             |FROM av GROUP BY 1 ORDER BY 1""".stripMargin)),

    // -- moving-average crossover alerts (golden cross) ------------------
    "ts_sma_cross" -> Gated(
      (s, d) => TsAnalytics.smaCross(
          TestData.events(s, d).samples, Seq("metric"), "ts", "value",
          bucketNs = H6, fastN = 4, slowN = 12)
        .orderBy(col("metric"), col("bucket")),
      Some(s"""WITH b AS (SELECT event_type AS metric,
              |    $tsSql // $H6 AS bi, avg(value) AS v
              |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
              |m AS (SELECT *,
              |    round(avg(v) OVER (PARTITION BY metric ORDER BY bi
              |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS fast,
              |    round(avg(v) OVER (PARTITION BY metric ORDER BY bi
              |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 6) AS slow
              |  FROM b),
              |l AS (SELECT *, lag(fast) OVER w AS pf, lag(slow) OVER w AS ps
              |  FROM m WINDOW w AS (PARTITION BY metric ORDER BY bi))
              |SELECT metric, bi * $H6 AS bucket,
              |  CASE WHEN fast > slow THEN 'up' ELSE 'down' END AS direction,
              |  fast, slow
              |FROM l WHERE pf IS NOT NULL
              |  AND ((fast > slow AND pf <= ps)
              |    OR (fast < slow AND pf >= ps))
              |ORDER BY 1, 2""".stripMargin)),

    // -- score calibration: per-source percent rank + z-score ------------
    "doc_quality_rank" -> Gated(
      (s, d) => Sample.normalizeScores(TestData.table(s, d, "documents"),
          Seq("source"), col("n_chars").cast("double"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, source, n_chars::DOUBLE AS score,
             |  round(percent_rank() OVER (PARTITION BY source
             |    ORDER BY n_chars::DOUBLE, doc_id), 6) AS prank,
             |  CASE WHEN stddev_samp(n_chars::DOUBLE)
             |      OVER (PARTITION BY source) > 0
             |    THEN round((n_chars::DOUBLE - avg(n_chars::DOUBLE)
             |        OVER (PARTITION BY source))
             |      / stddev_samp(n_chars::DOUBLE)
             |        OVER (PARTITION BY source), 6)
             |  END AS z
             |FROM documents ORDER BY 1""".stripMargin)),

    // -- cross-corpus near-dup: did corpus A duplicate corpus B? ---------
    // sources split into two halves; one banding pass over the tagged
    // union, same-side candidates dropped before verification
    "doc_crossdup" -> Gated(
      (s, d) => {
        val docs = TestData.table(s, d, "documents")
        val srcNum = regexp_extract(col("source"), "([0-9]+)", 1)
          .cast("int")
        Dedup.crossDupPairs(
            docs.filter(srcNum < 10), docs.filter(srcNum >= 10))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH toks AS (SELECT doc_id, source,
             |    string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |grams AS (SELECT doc_id,
             |    CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) < 10
             |      AS isa,
             |    list_distinct(CASE WHEN len(t) >= 3
             |      THEN list_transform(range(1, len(t) - 1),
             |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |      ELSE [] END) AS g
             |  FROM toks),
             |p AS (SELECT
             |    CASE WHEN x.isa THEN x.doc_id ELSE y.doc_id END AS id_a,
             |    CASE WHEN x.isa THEN y.doc_id ELSE x.doc_id END AS id_b,
             |    len(list_intersect(x.g, y.g))::DOUBLE /
             |      (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g)))
             |      AS j
             |  FROM grams x JOIN grams y
             |    ON x.doc_id < y.doc_id AND x.isa <> y.isa)
             |SELECT id_a, id_b, round(j, 6) AS jaccard FROM p
             |WHERE j >= 0.5 ORDER BY 1, 2""".stripMargin)),

    // -- TPC-H Q18 shape: customers with outsized orders -----------------
    // the HAVING-filtered aggregate is tiny by construction (threshold
    // picks outliers), so it broadcasts into orders, and the enriched
    // result broadcasts into customer — the fact table is scanned once
    "q18_large_orders" -> Gated(
      (s, d) => {
        val big = TestData.table(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(round(sum(col("l_quantity")), 4).as("tot_qty"))
          .filter(col("tot_qty") > 250.0)
        val withOrd = TestData.table(s, d, "orders")
          .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        TestData.table(s, d, "customer")
          .join(broadcast(withOrd), col("c_custkey") === col("o_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
            col("tot_qty"))
          .orderBy(col("tot_qty").desc, col("o_orderkey").asc)
          .limit(20)
      },
      Some("""WITH big AS (SELECT l_orderkey,
             |    round(sum(l_quantity), 4) AS tot_qty
             |  FROM lineitem GROUP BY 1
             |  HAVING round(sum(l_quantity), 4) > 250)
             |SELECT c_name, o_orderkey, o_orderdate, tot_qty
             |FROM big
             |JOIN orders ON o_orderkey = l_orderkey
             |JOIN customer ON c_custkey = o_custkey
             |ORDER BY tot_qty DESC, o_orderkey LIMIT 20""".stripMargin)),

    // -- TPC-H Q3 shape: top unshipped-revenue orders ---------------------
    // the fact side carries its pushed-down date filter into the scan;
    // the filtered BUILDING customer dimension broadcasts (at any scale
    // the post-filter dimension is the small side; AQE would pick the
    // same under size misestimates). TakeOrdered caps the result.
    "q3_shipping" -> Gated(
      (s, d) => {
        val cust = TestData.table(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        // cast the literal to the COLUMN's timestamp flavor: the driver
        // parquet has shipped both NTZ and LTZ timestamps across rounds,
        // and an LTZ-literal-vs-NTZ-column compare fails analysis
        val ord0 = TestData.table(s, d, "orders")
        val ord = ord0
          .filter(col("o_orderdate") <
            lit("1997-01-01").cast(ord0.schema("o_orderdate").dataType))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val li0 = TestData.table(s, d, "lineitem")
        val li = li0
          .filter(col("l_shipdate") >
            lit("1997-01-01").cast(li0.schema("l_shipdate").dataType))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
            4).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderdate").asc,
            col("l_orderkey").asc)
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate,
             |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |  AND l_shipdate > TIMESTAMP '1997-01-01'
             |GROUP BY 1, 2
             |ORDER BY revenue DESC, o_orderdate, l_orderkey
             |LIMIT 10""".stripMargin)),

    // -- TPC-H Q5 shape: local-supplier revenue per ASIA nation ----------
    // region -> nation -> (customer, supplier) all broadcast (true
    // dimensions); the customer-nation = supplier-nation equi-pair
    // rides the join keys, ONE shuffle pair on the fact tables
    "q5_region_volume" -> Gated(
      (s, d) => {
        val region = TestData.table(s, d, "region")
          .filter(col("r_name") === "ASIA")
        val nation = TestData.table(s, d, "nation")
          .join(broadcast(region),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val cust = TestData.table(s, d, "customer")
          .join(broadcast(nation),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_nationkey"))
        val supp = TestData.table(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        val ord0 = TestData.table(s, d, "orders")
        val odt = ord0.schema("o_orderdate").dataType
        val ord = ord0
          .filter(col("o_orderdate") >= lit("1996-01-01").cast(odt) &&
            col("o_orderdate") < lit("1997-01-01").cast(odt))
          .select(col("o_orderkey"), col("o_custkey"))
        TestData.table(s, d, "lineitem")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(TestData.table(s, d, "nation")
              .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
            4).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name").asc)
      },
      Some("""SELECT n_name,
             |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |  AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin)),

    // -- flagship analytics aggregate over lineitem (bench headline) -----
    "q1_agg" -> Gated(
      (s, d) => TestData.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 4) AS sum_qty,
             |  round(sum(l_extendedprice), 4) AS sum_price,
             |  round(avg(l_discount), 6) AS avg_disc,
             |  count(*) AS n
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    run(s"""{"select":"click","range":{"from":"$W0iso","to":"$W1iso"}}""")(
      spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gated.map { case (n, g) => n -> g.fn }.toMap

  def oracleSql: Map[String, String] =
    gated.flatMap { case (n, g) => g.oracle.map(n -> _) }.toMap
}
