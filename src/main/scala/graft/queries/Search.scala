package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Retrieval
import graft.queries.Tables.t

/** Corpus retrieval queries — the inverted-index serving shapes (ranked
  * BM25 and boolean) a training-data pipeline uses for eval-set mining,
  * corpus search, and hard-negative sourcing. Operators live in
  * [[graft.operators.Retrieval]]; the streaming serve path is w30 in
  * [[StreamingQ]]. */
object Search {

  /** The shared demo query set: tiny, broadcastable — the serve-path
    * assumption (queries ≪ corpus) that keeps the postings unshuffled. */
  private val QueryTerms: Seq[(Long, String)] = Seq(
    1L -> "hash", 1L -> "join",
    2L -> "window", 2L -> "agg", 2L -> "stream",
    3L -> "vector", 3L -> "scan")

  private[queries] val QuerySql =
    QueryTerms.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** [[QueryTerms]] with each term's 0-based position in its query's
    * SEQUENCE — the SDM fixture (d147): sequential dependence is
    * defined on the term order, which the set-shaped fixture drops. */
  private val SdmQueryTerms: Seq[(Long, Long, String)] = {
    val next = scala.collection.mutable.Map.empty[Long, Long]
    QueryTerms.map { case (q, t) =>
      val p = next.getOrElse(q, 0L); next(q) = p + 1; (q, p, t)
    }
  }
  private val SdmQuerySql =
    SdmQueryTerms.map { case (q, p, t) => s"($q, $p, '$t')" }
      .mkString(", ")

  /** d93's deterministic non-Latin fixture map: vowels → Greek, the
    * space separator → U+00B7 middle dot (shared verbatim with the
    * DuckDB `translate` in the oracle). */
  private def greekify(w: String): String = {
    val m = "aeiou ".zip("αεϊοθ·").toMap
    w.map(c => m.getOrElse(c, c))
  }

  private val GreekQuerySql =
    QueryTerms.map { case (q, t) => s"($q, '${greekify(t)}')" }
      .mkString(", ")

  /** The BM25 top-10 oracle over an arbitrary doc relation — shared
    * verbatim (via [[Bm25OracleSql]]) by d67 (batch), d74/d75
    * (pruned), d71 (appended) and w30 (streamed serving): every serve
    * path must agree with the batch scorer exactly, per-bit. d76
    * instantiates it over the SURVIVING corpus after deletes. */
  private def bm25OracleSql(rel: String): String =
    s"""${bm25Ctes(rel)}
    |SELECT CAST(query_id AS BIGINT) AS query_id, rk, doc_id, score
    |FROM rk WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** The CTE chain of [[bm25OracleSql]] without the final projection —
    * shared by consumers that post-process the ranked list (d123's
    * hard-negative filter). */
  private def bm25Ctes(rel: String): String =
    s"""WITH posts AS (
    |  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
    |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
    |           unnest(string_split(text, ' ')) AS term
    |    FROM $rel)
    |  GROUP BY doc_id, term),
    |qry(query_id, term) AS (VALUES $QuerySql),
    |stats AS (SELECT COUNT(*) AS n_docs,
    |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
    |      AS avgdl
    |  FROM $rel),
    |slice AS (SELECT p.* FROM posts p
    |          WHERE term IN (SELECT DISTINCT term FROM qry)),
    |dfq AS (SELECT term, COUNT(*) AS df FROM slice GROUP BY term),
    |sc AS (
    |  SELECT q.query_id, s.doc_id,
    |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
    |      (tf * (1.2 + 1.0)) /
    |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
    |      AS contrib
    |  FROM slice s JOIN qry q USING (term) JOIN dfq USING (term),
    |       stats),
    |agg AS (SELECT query_id, doc_id,
    |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
    |      AS score
    |  FROM sc GROUP BY query_id, doc_id),
    |rk AS (SELECT query_id, doc_id, score,
    |    CAST(row_number() OVER (PARTITION BY query_id
    |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
    |  FROM agg)""".stripMargin

  private val Bm25OracleSql: String = bm25OracleSql("documents")

  /** The exact-MaxSim top-10 oracle — shared VERBATIM by d105 (batch)
    * and w35 (streamed serving from the cached doc-token map): the
    * streamed doc-at-a-time serve must equal the batch scorer
    * per-bit. */
  private val MaxSimOracleSql: String =
    s"""WITH qry(query_id, qterm) AS (VALUES $QuerySql),
    |qv AS (SELECT query_id, qterm,
    |    list_transform(generate_series(1, 8), j ->
    |      (('0x' || substr(md5(j || '_' || qterm), 1, 15))::BIGINT
    |        % 1000) / 1000.0 - 0.5) AS qv
    |  FROM qry),
    |dt AS (SELECT DISTINCT doc_id, term FROM (
    |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    |    FROM documents)
    |  WHERE len(term) > 0),
    |dv AS (SELECT doc_id, term,
    |    list_transform(generate_series(1, 8), j ->
    |      (('0x' || substr(md5(j || '_' || term), 1, 15))::BIGINT
    |        % 1000) / 1000.0 - 0.5) AS dv
    |  FROM dt),
    |pairs AS (SELECT q.query_id, q.qterm, d.doc_id,
    |    round(list_reduce(list_transform(generate_series(1, 8),
    |        i -> qv[i] * dv[i]), (a, b) -> a + b), 9) AS dot
    |  FROM dv d, qv q),
    |mx AS (SELECT query_id, qterm, doc_id, MAX(dot) AS mx
    |  FROM pairs GROUP BY 1, 2, 3),
    |sc AS (SELECT query_id, doc_id,
    |    round(CAST(SUM(CAST(mx AS DECIMAL(28,9))) AS DOUBLE), 6)
    |      AS score
    |  FROM mx GROUP BY 1, 2)
    |SELECT CAST(query_id AS BIGINT) AS query_id,
    |  CAST(row_number() OVER (PARTITION BY query_id
    |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk,
    |  doc_id, score
    |FROM sc QUALIFY rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** The PLAID nomination+rerank oracle — shared VERBATIM by d139
    * (batch) and d141 (persisted bucketed-index serve): the stored-
    * index path must equal the batch scorer per-bit. */
  private val PlaidOracleSql: String =
    s"""WITH qry(query_id, qterm) AS (VALUES $QuerySql),
    |qv0 AS (SELECT query_id, qterm,
    |    list_transform(generate_series(1, 8), j ->
    |      (('0x' || substr(md5(j || '_' || qterm), 1, 15))::BIGINT
    |        % 1000) / 1000.0 - 0.5) AS qv
    |  FROM qry),
    |qv AS (SELECT query_id, qterm, qv,
    |    CAST(list_sum(list_transform(generate_series(1, 6), i ->
    |      CASE WHEN qv[i] > 0 THEN (1::BIGINT << (i - 1))
    |           ELSE 0 END)) AS BIGINT) AS qb
    |  FROM qv0),
    |dt AS (SELECT DISTINCT doc_id, term FROM (
    |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    |    FROM documents)
    |  WHERE len(term) > 0),
    |dv0 AS (SELECT doc_id, term,
    |    list_transform(generate_series(1, 8), j ->
    |      (('0x' || substr(md5(j || '_' || term), 1, 15))::BIGINT
    |        % 1000) / 1000.0 - 0.5) AS dv
    |  FROM dt),
    |dv AS (SELECT doc_id, term, dv,
    |    CAST(list_sum(list_transform(generate_series(1, 6), i ->
    |      CASE WHEN dv[i] > 0 THEN (1::BIGINT << (i - 1))
    |           ELSE 0 END)) AS BIGINT) AS db
    |  FROM dv0),
    |ppairs AS (SELECT q.query_id, q.qterm, d.doc_id,
    |    round(list_reduce(list_transform(generate_series(1, 8),
    |        i -> qv[i] * dv[i]), (a, b) -> a + b), 9) AS dot
    |  FROM dv d, qv q WHERE bit_count(xor(d.db, q.qb)) <= 1),
    |pmx AS (SELECT query_id, qterm, doc_id, MAX(dot) AS mx
    |  FROM ppairs GROUP BY 1, 2, 3),
    |psc AS (SELECT query_id, doc_id,
    |    round(CAST(SUM(CAST(mx AS DECIMAL(28,9))) AS DOUBLE), 6)
    |      AS score
    |  FROM pmx GROUP BY 1, 2),
    |nom AS (SELECT query_id, doc_id FROM (
    |    SELECT query_id, doc_id, row_number() OVER (
    |        PARTITION BY query_id
    |        ORDER BY score DESC, doc_id ASC) AS rk
    |    FROM psc) WHERE rk <= 50),
    |epairs AS (SELECT n.query_id, q.qterm, n.doc_id,
    |    round(list_reduce(list_transform(generate_series(1, 8),
    |        i -> qv[i] * dv[i]), (a, b) -> a + b), 9) AS dot
    |  FROM nom n
    |  JOIN dv d ON d.doc_id = n.doc_id
    |  JOIN qv q ON q.query_id = n.query_id),
    |emx AS (SELECT query_id, qterm, doc_id, MAX(dot) AS mx
    |  FROM epairs GROUP BY 1, 2, 3),
    |esc AS (SELECT query_id, doc_id,
    |    round(CAST(SUM(CAST(mx AS DECIMAL(28,9))) AS DOUBLE), 6)
    |      AS score
    |  FROM emx GROUP BY 1, 2)
    |SELECT CAST(query_id AS BIGINT) AS query_id,
    |  CAST(row_number() OVER (PARTITION BY query_id
    |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk,
    |  doc_id, score
    |FROM esc QUALIFY rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** The shared phrase fixture (d110 batch, d113 indexed serve):
    * three phrases that hit 40+ docs each, plus an absent one. */
  private val PhraseSet: Seq[(Long, Seq[String])] = Seq(
    (1L, Seq("table", "hash")), (2L, Seq("merge", "group")),
    (3L, Seq("customer", "join")), (4L, Seq("zz", "qq")))

  /** The phrase-occurrence oracle — shared VERBATIM by d110 (batch
    * positional postings) and d113 (persisted positional index):
    * the indexed serve must equal the batch intersection per-bit.
    * Parameterized over the corpus for d148 (post-delete serve =
    * the same intersection over the SURVIVING corpus). */
  private def phraseOracleSql(corpus: String): String = s"""WITH d AS (
    |  SELECT doc_id, string_split(text, ' ') AS t FROM $corpus),
    |pp AS (SELECT doc_id, unnest(t) AS term,
    |       unnest(range(1, len(t) + 1)) AS pos FROM d),
    |qry(query_id, off, term, plen) AS (VALUES
    |  (1, 0, 'table', 2), (1, 1, 'hash', 2),
    |  (2, 0, 'merge', 2), (2, 1, 'group', 2),
    |  (3, 0, 'customer', 2), (3, 1, 'join', 2),
    |  (4, 0, 'zz', 2), (4, 1, 'qq', 2)),
    |m AS (SELECT query_id, doc_id, pos - off AS start, plen,
    |    COUNT(DISTINCT off) AS nm
    |  FROM pp JOIN qry USING (term)
    |  GROUP BY query_id, doc_id, start, plen)
    |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
    |  CAST(COUNT(*) AS BIGINT) AS n_occ
    |FROM m WHERE nm = plen
    |GROUP BY query_id, doc_id ORDER BY query_id, doc_id""".stripMargin

  private val PhraseOracleSql: String = phraseOracleSql("documents")

  /** The proximity-rerank oracle — shared VERBATIM by d111 (batch)
    * and d114 (persisted positional index serve). */
  private val ProximityOracleSql: String = s"""WITH posts AS (
      |  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
      |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |           unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |qry(query_id, term) AS (VALUES $QuerySql),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
      |      AS avgdl
      |  FROM documents),
      |slice AS (SELECT p.* FROM posts p
      |          WHERE term IN (SELECT DISTINCT term FROM qry)),
      |dfq AS (SELECT term, COUNT(*) AS df FROM slice GROUP BY term),
      |sc AS (SELECT q.query_id, s.doc_id,
      |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
      |      AS contrib
      |  FROM slice s JOIN qry q USING (term) JOIN dfq USING (term),
      |       stats),
      |agg AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM sc GROUP BY query_id, doc_id),
      |cand AS (SELECT query_id, doc_id, score FROM (
      |    SELECT query_id, doc_id, score, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM agg) WHERE rk <= 20),
      |d2 AS (SELECT doc_id, string_split(text, ' ') AS t
      |       FROM documents),
      |pp AS (SELECT doc_id, unnest(t) AS term,
      |       unnest(range(1, len(t) + 1)) AS pos FROM d2),
      |qp AS (SELECT q.query_id, p.doc_id, p.term, p.pos
      |  FROM pp p JOIN qry q USING (term)
      |  JOIN cand c ON c.query_id = q.query_id
      |             AND c.doc_id = p.doc_id),
      |mind AS (SELECT a.query_id, a.doc_id,
      |    MIN(abs(a.pos - b.pos)) AS mind
      |  FROM qp a JOIN qp b
      |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
      |   AND a.term < b.term
      |  GROUP BY a.query_id, a.doc_id),
      |resc AS (SELECT c.query_id, c.doc_id,
      |    round(c.score + COALESCE(1.0 / (1.0 + mind), 0.0), 6)
      |      AS score
      |  FROM cand c LEFT JOIN mind m
      |    ON m.query_id = c.query_id AND m.doc_id = c.doc_id)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk,
      |  doc_id, score
      |FROM resc QUALIFY rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** The RM3 three-stage oracle — shared VERBATIM by d107 (batch)
    * and w38 (streamed serving): per-query results are
    * batch-invariant, so the streamed serve must match the batch
    * pipeline per-bit. */
  private val Rm3OracleSql: String = s"""WITH posts AS (
      |  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
      |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |           unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |qry(query_id, term) AS (VALUES $QuerySql),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
      |      AS avgdl
      |  FROM documents),
      |slice1 AS (SELECT p.* FROM posts p
      |           WHERE term IN (SELECT DISTINCT term FROM qry)),
      |df1 AS (SELECT term, COUNT(*) AS df FROM slice1 GROUP BY term),
      |sc1 AS (SELECT q.query_id, s.doc_id,
      |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
      |      AS contrib
      |  FROM slice1 s JOIN qry q USING (term) JOIN df1 USING (term),
      |       stats),
      |agg1 AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM sc1 GROUP BY query_id, doc_id),
      |fb AS (SELECT query_id, doc_id FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM agg1) WHERE rk <= 5),
      |wts AS (SELECT f.query_id, p.term,
      |    SUM(CAST(round(CAST(tf AS DOUBLE) / dl, 9)
      |      AS DECIMAL(28,9))) AS wsum
      |  FROM posts p JOIN fb f USING (doc_id)
      |  GROUP BY f.query_id, p.term),
      |expn AS (SELECT query_id, term, 0.5 AS w FROM (
      |    SELECT w.query_id, w.term, row_number() OVER (
      |        PARTITION BY w.query_id
      |        ORDER BY wsum DESC, w.term ASC) AS erk
      |    FROM wts w ANTI JOIN qry q
      |      ON q.query_id = w.query_id AND q.term = w.term)
      |  WHERE erk <= 3),
      |wq AS (SELECT DISTINCT query_id, term, 1.0 AS w FROM qry
      |       UNION ALL SELECT query_id, term, w FROM expn),
      |slice2 AS (SELECT p.* FROM posts p
      |           WHERE term IN (SELECT DISTINCT term FROM wq)),
      |df2 AS (SELECT term, COUNT(*) AS df FROM slice2 GROUP BY term),
      |sc2 AS (SELECT q.query_id, s.doc_id,
      |    round(q.w * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
      |      AS contrib
      |  FROM slice2 s JOIN wq q USING (term) JOIN df2 USING (term),
      |       stats),
      |agg2 AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM sc2 GROUP BY query_id, doc_id)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk,
      |  doc_id, score
      |FROM agg2 QUALIFY rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** The persisted text index, memoized per (session, dir) — the
    * annIndexDir/s15 discipline: Bench's warm samples then measure
    * the SERVE path against the stored tables, the production shape.
    * Only read-only serves (d75) share it; lifecycle queries that
    * mutate an index (d71 append, d76 delete/compact) build their
    * own. */
  private val textIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]()
  // Memoized index dirs are deleted on JVM exit (they outlive any one
  // query by design, so per-query cleanup can't apply); a putIfAbsent
  // race loser deletes its duplicate build immediately.
  sys.addShutdownHook {
    textIndexMemo.values.forEach(d => Rm.rf(d))
  }
  private def textIndexDir(s: org.apache.spark.sql.SparkSession,
                           dir: String): String = {
    val key = (s, dir)
    Option(textIndexMemo.get(key)).getOrElse {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-d75").toString
      // positions included: d114's proximity serve shares this build
      // (read-only, like d75/d101 — the sidecar costs one extra
      // corpus pass at build time and nothing at BM25 serve time)
      Retrieval.writeIndex(t(s, dir, "documents"),
        "doc_id", "text", tmp, nBuckets = 16, withPositions = true)
      Option(textIndexMemo.putIfAbsent(key, tmp)) match {
        case Some(winner) => Rm.rf(tmp); winner
        case None => tmp
      }
    }
  }

  /** d141's doc_id-bucketed token-map TABLE, memoized per (session,
    * dir) — the textIndexDir/s15 discipline (VERDICT r14 #8): Bench's
    * warm samples then measure the PLAID serve against the stored
    * table, the production shape. The table name carries the dir
    * hash so two dirs in one session never collide; the build starts
    * with the shared `Warehouse.reset` orphan-dir sweep. */
  /** The Dirichlet query-likelihood oracle CTE chain — ONE template
    * shared by d144 and the d140 matrix's ql arm (r17 review: a
    * drifted twin of the smoothing arithmetic would break exactly
    * one catalog entry). Expects `posts`, `slice` (query-term
    * postings) and `qry(query_id, term)` CTEs in scope; emits
    * `${p}agg(query_id, doc_id, score)`. */
  private def qlOracleCtes(p: String): String =
    s"""${p}coll AS (SELECT CAST(SUM(tf) AS DOUBLE) AS c_total FROM posts),
    |${p}cf AS (SELECT term, CAST(SUM(tf) AS DOUBLE) AS cf
    |  FROM slice GROUP BY term),
    |${p}cand AS (SELECT DISTINCT q.query_id, s.doc_id, s.dl
    |  FROM slice s JOIN qry q USING (term)),
    |${p}rws AS (SELECT c.query_id, c.doc_id,
    |    round(ln((COALESCE(s.tf, 0) + (300.0 * f.cf) / ${p}coll.c_total) /
    |      (c.dl + 300.0)), 9) AS contrib
    |  FROM ${p}cand c
    |  JOIN qry q ON q.query_id = c.query_id
    |  JOIN ${p}cf f ON f.term = q.term
    |  LEFT JOIN slice s ON s.doc_id = c.doc_id AND s.term = q.term
    |  CROSS JOIN ${p}coll),
    |${p}agg AS (SELECT query_id, doc_id,
    |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
    |      AS score
    |  FROM ${p}rws GROUP BY 1, 2)""".stripMargin

  /** The SDM oracle CTE chain — ONE template shared by d147 and the
    * d140 matrix's sdm arm (the qlOracleCtes discipline: a drifted
    * twin of the three-family arithmetic would break exactly one
    * catalog entry). Expects a `posts` CTE and the `documents` table
    * in scope; emits `${p}agg(query_id, doc_id, score)`. Replays all
    * three feature families step for step: Dirichlet-smoothed
    * unigrams, exact-adjacency ordered windows (pos_b = pos_a + 1),
    * and unordered windows (|pos_b − pos_a| < 8), each family's
    * contribs rounded to 9 as DECIMAL, the (0.85, 0.1, 0.05) combine
    * in one fixed double expression, final round to 6. Positions are
    * 1-based indices in the RAW split (empties keep their slot, then
    * drop) — positionalPostings' exact semantics. */
  private def sdmOracleCtes(p: String): String =
    s"""${p}qseq(query_id, qpos, term) AS (VALUES $SdmQuerySql),
    |${p}uni AS (SELECT DISTINCT query_id, term FROM ${p}qseq),
    |${p}qts AS (SELECT DISTINCT term FROM ${p}qseq),
    |${p}coll AS (SELECT CAST(SUM(tf) AS DOUBLE) AS c_total FROM posts),
    |${p}slice AS (SELECT q.* FROM posts q
    |  WHERE term IN (SELECT term FROM ${p}qts)),
    |${p}cft AS (SELECT term, CAST(SUM(tf) AS DOUBLE) AS cf
    |  FROM ${p}slice GROUP BY term),
    |${p}cand AS (SELECT DISTINCT u.query_id, s.doc_id, s.dl
    |  FROM ${p}slice s JOIN ${p}uni u USING (term)),
    |${p}rt AS (SELECT c.query_id, c.doc_id,
    |    round(ln((COALESCE(s.tf, 0) +
    |        (300.0 * f.cf) / ${p}coll.c_total) /
    |      (c.dl + 300.0)), 9) AS contrib
    |  FROM ${p}cand c
    |  JOIN ${p}uni u ON u.query_id = c.query_id
    |  JOIN ${p}cft f ON f.term = u.term
    |  LEFT JOIN ${p}slice s ON s.doc_id = c.doc_id AND s.term = u.term
    |  CROSS JOIN ${p}coll),
    |${p}st AS (SELECT query_id, doc_id,
    |    SUM(CAST(contrib AS DECIMAL(28,9))) AS s
    |  FROM ${p}rt GROUP BY 1, 2),
    |${p}bg AS (SELECT DISTINCT a.query_id, a.term AS ta, b.term AS tb
    |  FROM ${p}qseq a JOIN ${p}qseq b
    |    ON a.query_id = b.query_id AND b.qpos = a.qpos + 1),
    |${p}bgd AS (SELECT DISTINCT ta, tb FROM ${p}bg),
    |${p}pp0 AS (SELECT doc_id,
    |    unnest(string_split(text, ' ')) AS term,
    |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
    |  FROM documents),
    |${p}ps AS (SELECT * FROM ${p}pp0
    |  WHERE len(term) > 0 AND term IN (SELECT term FROM ${p}qts)),
    |${p}ordd AS (SELECT x.doc_id, g.ta, g.tb, COUNT(*) AS tfo
    |  FROM ${p}bgd g
    |  JOIN ${p}ps x ON x.term = g.ta
    |  JOIN ${p}ps y ON y.doc_id = x.doc_id AND y.term = g.tb
    |    AND y.pos = x.pos + 1
    |  GROUP BY 1, 2, 3),
    |${p}cfo AS (SELECT ta, tb, CAST(SUM(tfo) AS DOUBLE) AS cfo
    |  FROM ${p}ordd GROUP BY 1, 2),
    |${p}unod AS (SELECT x.doc_id, g.ta, g.tb, COUNT(*) AS tfu
    |  FROM ${p}bgd g
    |  JOIN ${p}ps x ON x.term = g.ta
    |  JOIN ${p}ps y ON y.doc_id = x.doc_id AND y.term = g.tb
    |    AND abs(y.pos - x.pos) < 8 AND y.pos <> x.pos
    |  GROUP BY 1, 2, 3),
    |${p}cfu AS (SELECT ta, tb, CAST(SUM(tfu) AS DOUBLE) AS cfu
    |  FROM ${p}unod GROUP BY 1, 2),
    |${p}ro AS (SELECT c.query_id, c.doc_id,
    |    round(ln((COALESCE(o.tfo, 0) +
    |        (300.0 * f.cfo) / ${p}coll.c_total) /
    |      (c.dl + 300.0)), 9) AS contrib
    |  FROM ${p}cand c
    |  JOIN ${p}bg g ON g.query_id = c.query_id
    |  JOIN ${p}cfo f ON f.ta = g.ta AND f.tb = g.tb
    |  LEFT JOIN ${p}ordd o ON o.doc_id = c.doc_id
    |    AND o.ta = g.ta AND o.tb = g.tb
    |  CROSS JOIN ${p}coll),
    |${p}so AS (SELECT query_id, doc_id,
    |    SUM(CAST(contrib AS DECIMAL(28,9))) AS s
    |  FROM ${p}ro GROUP BY 1, 2),
    |${p}ru AS (SELECT c.query_id, c.doc_id,
    |    round(ln((COALESCE(o.tfu, 0) +
    |        (300.0 * f.cfu) / ${p}coll.c_total) /
    |      (c.dl + 300.0)), 9) AS contrib
    |  FROM ${p}cand c
    |  JOIN ${p}bg g ON g.query_id = c.query_id
    |  JOIN ${p}cfu f ON f.ta = g.ta AND f.tb = g.tb
    |  LEFT JOIN ${p}unod o ON o.doc_id = c.doc_id
    |    AND o.ta = g.ta AND o.tb = g.tb
    |  CROSS JOIN ${p}coll),
    |${p}su AS (SELECT query_id, doc_id,
    |    SUM(CAST(contrib AS DECIMAL(28,9))) AS s
    |  FROM ${p}ru GROUP BY 1, 2),
    |${p}agg AS (SELECT t.query_id, t.doc_id,
    |    round(CAST(0.85 AS DOUBLE) * CAST(t.s AS DOUBLE) +
    |      CAST(0.1 AS DOUBLE) * COALESCE(CAST(o.s AS DOUBLE), 0.0) +
    |      CAST(0.05 AS DOUBLE) * COALESCE(CAST(u.s AS DOUBLE), 0.0),
    |      6) AS score
    |  FROM ${p}st t
    |  LEFT JOIN ${p}so o ON o.query_id = t.query_id
    |    AND o.doc_id = t.doc_id
    |  LEFT JOIN ${p}su u ON u.query_id = t.query_id
    |    AND u.doc_id = t.doc_id)""".stripMargin

  /** The SDM top-10 oracle (d147). */
  private val SdmOracleSql: String =
    s"""WITH posts AS (
    |  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
    |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
    |           unnest(string_split(text, ' ')) AS term
    |    FROM documents)
    |  GROUP BY doc_id, term),
    |${sdmOracleCtes("")}
    |SELECT CAST(query_id AS BIGINT) AS query_id,
    |  CAST(row_number() OVER (PARTITION BY query_id
    |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk,
    |  doc_id, score
    |FROM agg QUALIFY rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** The Dirichlet-QL top-10 oracle — shared VERBATIM by d144
    * (batch) and d146 (persisted-index serve): the indexed path must
    * equal the batch scorer per-bit, the d67/d75 discipline. */
  private val QlOracleSql: String =
    s"""WITH posts AS (
    |  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
    |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
    |           unnest(string_split(text, ' ')) AS term
    |    FROM documents)
    |  GROUP BY doc_id, term),
    |qry(query_id, term) AS (VALUES $QuerySql),
    |slice AS (SELECT p.* FROM posts p
    |          WHERE term IN (SELECT DISTINCT term FROM qry)),
    |${qlOracleCtes("")}
    |SELECT CAST(query_id AS BIGINT) AS query_id,
    |  CAST(row_number() OVER (PARTITION BY query_id
    |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk,
    |  doc_id, score
    |FROM agg QUALIFY rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** The documents postings relation, localCheckpoint'ed ONCE per
    * (session, dir) with the get + putIfAbsent discipline — shared by
    * d144 (benched headline) and d140. A fresh checkpoint per
    * invocation would pin a new corpus-postings copy every bench
    * sample for the JVM's life (the r16/r17 review's named leak
    * class). */
  private val postsMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String),
      org.apache.spark.sql.DataFrame]()
  private val postsLock = new Object
  private def postings(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame = {
    val key = (s, dir)
    // Double-checked locking on a private lock, NOT get+putIfAbsent
    // (r17 review): a putIfAbsent race loser's localCheckpoint would
    // pin a corpus-sized postings copy for the JVM's life with no
    // safe way to release it — the bloomDecontAgg discipline, applied
    // here so a losing builder is never created. Latent today
    // (Verify/Bench are single-threaded) but the memo family should
    // share ONE concurrency story.
    Option(postsMemo.get(key)).getOrElse(postsLock.synchronized {
      Option(postsMemo.get(key)).getOrElse {
        // built through the registry so Bench can retire the pinned
        // postings blocks once their last headline consumer ran
        // (VERDICT r17 #7); a release clears this memo entry, so a
        // later caller rebuilds — the documented cold-sample shape.
        val p = MemoRegistry.tracked("postings", s) {
          graft.operators.Retrieval
            .postings(t(s, dir, "documents"), "doc_id", "text")
            .localCheckpoint()
        }(() => { postsMemo.remove(key); () })
        postsMemo.put(key, p)
        p
      }
    })
  }

  /** Corpus constants (n_docs, avgdl) over the documents table,
    * collected ONCE per (session, dir) and memoized as a 1-row
    * LocalRelation (round 20 — the Retrieval.localOf discipline lifted to
    * the session, the postings-memo amortization applied to the
    * OTHER per-call corpus pass every batch scorer pays). Computed
    * by `Retrieval.corpusStats` over the documents table verbatim —
    * same rows, same arithmetic, merely collected once — so the
    * semantics (n_docs counts EVERY document, tokenized or not) are
    * untouched. No RDD is pinned (driver rows only), so there is
    * nothing to register or retire; the cold build's corpus scan
    * lands visibly in the first consumer's timed sample, the
    * documented cold-sample shape. A putIfAbsent race loser built a
    * throwaway local row set — no leak class here, unlike postsMemo. */
  private val statsMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String),
      org.apache.spark.sql.DataFrame]()
  private def corpusStatsLocal(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame = {
    val key = (s, dir)
    Option(statsMemo.get(key)).getOrElse {
      val st = Retrieval.corpusStats(t(s, dir, "documents"), "text")
      val local = s.createDataFrame(
        java.util.Arrays.asList(st.collect(): _*), st.schema)
      Option(statsMemo.putIfAbsent(key, local)).getOrElse(local)
    }
  }

  private val plaidTokMapMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]()
  private def plaidTokMapTable(s: org.apache.spark.sql.SparkSession,
                               dir: String): String = {
    val key = (s, dir)
    Option(plaidTokMapMemo.get(key)).getOrElse {
      // full MD5 hex, not Int hashCode (ADVICE r15): two dirs with
      // colliding hashCodes in one session would share a table name,
      // and the second build would silently overwrite the table the
      // first dir's memo entry still serves
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val tbl = s"graft_d141_tokmap_$digest"
      Warehouse.reset(s, tbl)
      graft.operators.LateInteraction
        .docTokenMap(t(s, dir, "documents"), "doc_id", "text", dim = 8)
        .write.bucketBy(16, "doc_id").format("parquet")
        .mode("overwrite").saveAsTable(tbl)
      // same key ⇒ same table name: a putIfAbsent race loser just
      // re-wrote the identical table; nothing to clean up
      Option(plaidTokMapMemo.putIfAbsent(key, tbl)).getOrElse(tbl)
    }
  }

  val all: Seq[Q] = Seq(

    Q("d67_bm25_topk",
      "Okapi BM25 ranked retrieval (graft.operators.Retrieval): " +
        "inverted postings (term, doc, tf, dl) from ONE explode + hash " +
        "agg with the doc-length denormalized in (no second corpus " +
        "pass); the query set broadcasts so the index side never " +
        "shuffles; df for the query terms comes from the filtered " +
        "slice (postings are (doc,term)-distinct, so count IS df); " +
        "corpus constants are a broadcast 1-row aggregate; per-term " +
        "contributions round to 9 decimals and sum as DECIMAL (term " +
        "addition order is engine-dependent), final score rounds to 6; " +
        "top-10 per query is a bounded window.",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        Retrieval.bm25TopK(
          Retrieval.postings(docs, "doc_id", "text"),
          QueryTerms.toDF("query_id", "term"),
          corpusStatsLocal(s, dir),
          k = 10)
          .orderBy("query_id", "rk")
      },
      Some(Bm25OracleSql)),

    Q("d74_maxscore_topk",
      "MaxScore-pruned BM25 (Turtle & Flood, IPM 1995 — the dynamic-" +
        "pruning family WAND descends from), reformulated set-at-a-" +
        "time: per-(query,term) score upper bounds idf*(k1+1), a " +
        "pruning threshold from the k-th best SINGLE-term score on " +
        "each query's best list (a provable lower bound on the k-th " +
        "best final score), terms whose ub-ascending running total " +
        "stays a 6-decimal ulp below the threshold become NON-" +
        "ESSENTIAL, and only docs nominated by an essential list are " +
        "scored (exactly, over all their rows, via semi-join). " +
        "LOSSLESS by construction — the oracle is d67's VERBATIM: " +
        "identical top-10, identical scores. This is the standard " +
        "retrieval-side fix for the w30 serve ceiling (SCALE.md r09): " +
        "stopword-class posting lists stop feeding the scoring " +
        "aggregation and survive only as a candidate probe.",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        Retrieval.maxScoreTopK(
          Retrieval.postings(docs, "doc_id", "text"),
          QueryTerms.toDF("query_id", "term"),
          corpusStatsLocal(s, dir),
          k = 10)
          .orderBy("query_id", "rk")
      },
      Some(Bm25OracleSql)),

    Q("d149_wand_topk",
      "WAND-pruned BM25 (Broder et al., CIKM'03 — VERDICT r18 #7): " +
        "the pivot test applied set-at-a-time on top of MaxScore's " +
        "essential-list nomination. Where d74 scores EVERY doc an " +
        "essential list nominates, WAND's per-doc criterion — the " +
        "sum of the upper bounds of the terms the doc actually " +
        "matches must reach θ — prunes nominees matching only " +
        "mid-bound terms whose combined ub misses the threshold, so " +
        "strictly fewer docs are fully scored (the spec pins a " +
        "fixture where the pivot drops a MaxScore nominee; " +
        "wandDocCounts is the pruning-activity witness). The refine " +
        "pass is one candidate-bounded (query,doc) ub-sum over the " +
        "nominees' slice rows — never corpus-shaped. LOSSLESS by the " +
        "same bound/ulp proofs as d74 — the oracle is d67's " +
        "VERBATIM: identical top-10, identical scores.",
      (s, dir) => {
        import s.implicits._
        // memoized postings checkpoint (d144/d147's memo): wandPlan
        // consumes the slice FIVE times (bounds, θ, nomination,
        // pivot sum, scoring) — raw lineage would re-tokenize the
        // corpus per consumer (the d100 FileScan-dedup lesson).
        Retrieval.wandTopK(
          postings(s, dir),
          QueryTerms.toDF("query_id", "term"),
          corpusStatsLocal(s, dir),
          k = 10)
          .orderBy("query_id", "rk")
      },
      Some(Bm25OracleSql)),

    Q("d75_maxscore_indexed",
      "MaxScore serving from the PERSISTED index — d74's pruning in " +
        "w30's production shape: planning runs on the term DICTIONARY " +
        "(a partition-pruned, vocab-of-query-terms-sized read), the " +
        "threshold pass reads ONLY the driver terms' buckets, the " +
        "candidate pass ONLY the essential terms' buckets, and the one " +
        "corpus-sized scan left is the final slice read whose scoring " +
        "aggregation is candidate-sized. Planning state crosses the " +
        "driver as bounded query-set-sized collects (the w25/w30 " +
        "discipline). Oracle is d67's VERBATIM — the pruned indexed " +
        "serve must equal the exhaustive corpus scorer per-bit.",
      (s, dir) => {
        import s.implicits._
        // build memoized per (session, dir) — warm samples measure
        // the dictionary-planned serve path, the production shape
        val idx = textIndexDir(s, dir)
        Retrieval.maxScoreIndexedTopK(s, idx,
          QueryTerms.toDF("query_id", "term"), k = 10, nBuckets = 16)
          .orderBy("query_id", "rk")
          .localCheckpoint()
      },
      Some(Bm25OracleSql)),

    Q("d68_boolean_retrieval",
      "Conjunctive boolean retrieval over the inverted postings: docs " +
        "containing ALL of {join, vector, stream} via one broadcast " +
        "term filter + one count-match aggregation — the distributed " +
        "form of df-ascending posting-list intersection (the group " +
        "count reaches |terms| iff every list holds the doc). At rest " +
        "the postings would be bucketed by term, making the filter a " +
        "pruned scan.",
      (s, dir) => Retrieval.booleanAnd(
          Retrieval.postings(t(s, dir, "documents"), "doc_id", "text"),
          Seq("join", "vector", "stream"))
        .orderBy("doc_id"),
      Some("""WITH posts AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  GROUP BY doc_id, term)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_hits
        |FROM posts WHERE term IN ('join', 'vector', 'stream')
        |GROUP BY doc_id HAVING COUNT(*) = 3
        |ORDER BY doc_id""".stripMargin)),

    Q("w30_streaming_bm25_serve",
      "Streamed BM25 serving from the PERSISTED index — the text " +
        "retrieval counterpart to w25's vector serving, in round " +
        "10's production shape: Retrieval.writeIndex stores postings " +
        "with df AND dl denormalized; before the stream starts the " +
        "static side is cached ONCE as the FORWARD index " +
        "(impactDocMap — per-(term, doc) decimal contributions " +
        "precomputed, the w25 static-side discipline that moved the " +
        "bm25_serve probe ~200 → ~1.05k qps); queries arrive one " +
        "file per query (maxFilesPerTrigger=1 → each query served in " +
        "its own micro-batch); foreachBatch scans the doc-partitioned " +
        "map once, folds each query's terms in codegen'd decimal, " +
        "gathers top-10 through TopKAgg, and writes each batch " +
        "idempotently (overwrite per batch id). The oracle is d67's, " +
        "VERBATIM — streamed doc-at-a-time serving must equal the " +
        "batch term-major scorer per-bit, and the stored df/dl must " +
        "match the corpus-derived ones.",
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-w30").toString
        var slice: Option[org.apache.spark.sql.DataFrame] = None
        try {
          Retrieval.writeIndex(t(s, dir, "documents"),
            "doc_id", "text", tmp, nBuckets = 16)
          val stats = Retrieval.readStats(s, tmp)
          // The round-9 serve-ceiling fix (VERDICT r09 #2), mirroring
          // w25's static-side discipline: the per-batch pruned read
          // re-listed + re-read parquet every micro-batch, a serve-
          // path constant ~20x off the vector path. The static side
          // is now the cached FORWARD INDEX (impactDocMap: per-(term,
          // doc) decimal contributions precomputed once — the
          // bm25_serve_r10 plan that moved the probe's ceiling ~200 →
          // ~1.05k qps), built ONCE before the stream starts; each
          // batch is one doc-at-a-time scan + the TopKAgg gather,
          // spec-proved bit-identical to the exhaustive indexed
          // scorer, so the oracle stays d67's verbatim.
          val vocab = s.read.parquet(s"${Retrieval.root(s, tmp)}/terms")
            .select("term").as[String].collect().toSeq
          val hot = Retrieval.impactDocMap(
              Retrieval.readIndexSlice(s, tmp, vocab, nBuckets = 16),
              stats)
            .cache()
          hot.count()                        // materialize pre-stream
          slice = Some(hot)
          // one ndjson file PER QUERY: a query's terms must co-arrive
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(s"$tmp/in"))
          QueryTerms.groupBy(_._1).foreach { case (qid, qts) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$tmp/in/q$qid.json"),
              qts.map { case (q, t) =>
                s"""{"query_id":$q,"term":"$t"}""" }
                .mkString("\n").getBytes("UTF-8"))
          }
          val stream = s.readStream
            .schema("query_id LONG, term STRING")
            .option("maxFilesPerTrigger", 1)
            .json(s"$tmp/in")
          val q = stream.writeStream
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                             batchId: Long) =>
              if (!batch.isEmpty) {
                val qArr = batch.groupBy("query_id")
                  .agg(collect_list(col("term")).as("terms"))
                Retrieval.bm25TopKDocMap(hot, qArr, k = 10)
                  .write.mode("overwrite").parquet(s"$tmp/out/b$batchId")
              }
            }
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          s.read.parquet(s"$tmp/out/b*")
            .orderBy("query_id", "rk")
            .localCheckpoint()
        } finally {
          slice.foreach(_.unpersist())
          Rm.rf(tmp)
        }
      },
      Some(Bm25OracleSql)),

    Q("d76_deleted_index_topk",
      "Index DELETE lifecycle — the Lucene model under the gate: " +
        "deletes write only TOMBSTONES (doc ids); serving anti-joins " +
        "them out immediately while df and corpus stats stay stale " +
        "until compaction (exactly Lucene's pre-merge semantics, " +
        "spec-proved); compactDeletes then rewrites postings without " +
        "the deleted docs, rebuilds the dictionary from survivors, " +
        "decrements stats EXACTLY (a doc's token count is the sum of " +
        "its tf values, so the removed postings carry everything " +
        "needed) and swaps in with the append lifecycle's two-rename " +
        "discipline. The gate builds the full index, deletes every " +
        "doc_id % 3 == 0, compacts, serves — oracle is d67's over the " +
        "SURVIVING corpus: a compacted index must be " +
        "indistinguishable from a fresh build that never saw the " +
        "deleted docs.",
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-d76").toString
        try {
          val docs = t(s, dir, "documents")
          Retrieval.writeIndex(docs, "doc_id", "text", tmp, nBuckets = 16)
          Retrieval.deleteDocs(
            docs.filter(col("doc_id") % 3 === 0).select("doc_id"), tmp)
          Retrieval.compactDeletes(s, tmp, nBuckets = 16)
          val terms = QueryTerms.map(_._2).distinct
          Retrieval.bm25TopKIndexed(
            Retrieval.readServableSlice(s, tmp, terms, nBuckets = 16),
            QueryTerms.toDF("query_id", "term"),
            Retrieval.readStats(s, tmp),
            k = 10)
            .orderBy("query_id", "rk")
            .localCheckpoint()
        } finally Rm.rf(tmp)
      },
      Some(bm25OracleSql(
        "(SELECT * FROM documents WHERE doc_id % 3 <> 0)"))),

    Q("d71_bm25_appended_index",
      "Index MAINTENANCE under the gate — the s15/s16 lifecycle for " +
        "text: build the persisted index from the first half of the " +
        "corpus, Retrieval.appendIndex the second half (postings " +
        "append as pure file adds into the tb partitions; the term " +
        "DICTIONARY — where df lives, precisely so appends never " +
        "rewrite old postings — merges old ∪ new with summed df and " +
        "swaps in with two renames; stats merge as exact integer " +
        "adds), then serve the full query set from the result. The " +
        "oracle is d67's VERBATIM over the whole corpus: an appended " +
        "index must be indistinguishable from a fresh build.",
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-d71").toString
        try {
          val docs = t(s, dir, "documents")
          val cut = docs.count() / 2
          Retrieval.writeIndex(docs.filter(col("doc_id") < cut),
            "doc_id", "text", tmp, nBuckets = 16)
          Retrieval.appendIndex(docs.filter(col("doc_id") >= cut),
            "doc_id", "text", tmp, nBuckets = 16)
          val terms = QueryTerms.map(_._2).distinct
          Retrieval.bm25TopKIndexed(
            Retrieval.readIndexSlice(s, tmp, terms, nBuckets = 16),
            QueryTerms.toDF("query_id", "term"),
            Retrieval.readStats(s, tmp),
            k = 10)
            .orderBy("query_id", "rk")
            .localCheckpoint()
        } finally Rm.rf(tmp)
      },
      Some(Bm25OracleSql)),

    Q("d90_maxscore_post_delete",
      "MaxScore serving of a post-delete, PRE-compaction index — the " +
        "tombstone gap the round-9 advisory flagged: deleteDocs writes " +
        "tombstones and d76 proved the exhaustive indexed path anti-" +
        "joins them out, but the dictionary-planned MaxScore path read " +
        "raw postings and would silently resurface deleted docs. Now " +
        "every maxScoreIndexedTopK read (theta pass included — a " +
        "threshold computed over deleted docs could exceed the true " +
        "k-th best among survivors and prune a live top-k doc) routes " +
        "through readServableSlice. Oracle is the STALE-df BM25 the " +
        "Lucene model prescribes pre-compaction: df and corpus stats " +
        "from the FULL corpus, scored docs restricted to survivors.",
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-d90").toString
        try {
          val docs = t(s, dir, "documents")
          Retrieval.writeIndex(docs, "doc_id", "text", tmp, nBuckets = 16)
          Retrieval.deleteDocs(
            docs.filter(col("doc_id") % 3 === 0).select("doc_id"), tmp)
          // NO compactDeletes — the serve happens inside the
          // tombstones-pending window d76 skips over
          Retrieval.maxScoreIndexedTopK(s, tmp,
            QueryTerms.toDF("query_id", "term"), k = 10, nBuckets = 16)
            .orderBy("query_id", "rk")
            .localCheckpoint()
        } finally Rm.rf(tmp)
      },
      Some(s"""WITH posts AS (
        |  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
        |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |           unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  GROUP BY doc_id, term),
        |qry(query_id, term) AS (VALUES $QuerySql),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
        |      AS avgdl
        |  FROM documents),
        |slice AS (SELECT p.* FROM posts p
        |          WHERE term IN (SELECT DISTINCT term FROM qry)),
        |dfq AS (SELECT term, COUNT(*) AS df FROM slice GROUP BY term),
        |sc AS (
        |  SELECT q.query_id, s.doc_id,
        |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      (tf * (1.2 + 1.0)) /
        |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
        |      AS contrib
        |  FROM slice s JOIN qry q USING (term) JOIN dfq USING (term),
        |       stats
        |  WHERE s.doc_id % 3 <> 0),
        |agg AS (SELECT query_id, doc_id,
        |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
        |      AS score
        |  FROM sc GROUP BY query_id, doc_id),
        |rk AS (SELECT query_id, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
        |  FROM agg)
        |SELECT CAST(query_id AS BIGINT) AS query_id, rk, doc_id, score
        |FROM rk WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin)),

    Q("d91_text_index_compact",
      "Text-index FRAGMENTATION lifecycle — the s17 pattern ported to " +
        "the tb partitions (VERDICT r09 #4): build from the first " +
        "slice of the corpus, append the rest in 8 waves (each wave " +
        "appends one file batch per touched term bucket, so the " +
        "postings accumulate the small-files shape an append-heavy " +
        "index hits between maintenance passes), compactPostings " +
        "(selective: ONLY buckets over the file threshold are read " +
        "and rewritten, each swapped rename-out/rename-in with " +
        "restore-on-failure), then serve. Row content is untouched by " +
        "compaction, so the oracle is d67's VERBATIM — a compacted " +
        "appended index must equal a fresh build per-bit.",
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-d91").toString
        try {
          val docs = t(s, dir, "documents")
          val n = docs.count()
          val waves = 8
          val span = n / (waves + 1)
          Retrieval.writeIndex(docs.filter(col("doc_id") < span),
            "doc_id", "text", tmp, nBuckets = 16)
          (1 to waves).foreach { w =>
            val lo = span * w
            val hi = if (w == waves) n else span * (w + 1)
            Retrieval.appendIndex(
              docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
              "doc_id", "text", tmp, nBuckets = 16)
          }
          val rewritten = Retrieval.compactPostings(s, tmp)
          require(rewritten.nonEmpty,
            "d91: append waves left no fragmented bucket to compact")
          val terms = QueryTerms.map(_._2).distinct
          Retrieval.bm25TopKIndexed(
            Retrieval.readIndexSlice(s, tmp, terms, nBuckets = 16),
            QueryTerms.toDF("query_id", "term"),
            Retrieval.readStats(s, tmp),
            k = 10)
            .orderBy("query_id", "rk")
            .localCheckpoint()
        } finally Rm.rf(tmp)
      },
      Some(Bm25OracleSql)),

    Q("d93_unicode_bm25",
      "Unicode-aware retrieval (VERDICT r09 #8): the postings/BM25 " +
        "stack over TextAnalysis.tokensUnicode — token = maximal " +
        "\\p{L}\\p{N} run, the regex subset Java and RE2 share — on a " +
        "deterministically non-Latin fixture derived from the corpus " +
        "(vowels translated to Greek AND the space separator to " +
        "U+00B7 middle dot, so the ASCII space split would see one " +
        "giant token per doc and ONLY the Unicode tokenizer recovers " +
        "the terms). Queries are the shared set under the same " +
        "translation; scoring, df, tie-breaks and rounding are d67's " +
        "verbatim. Proves the retrieval/dedup tokenizer stack honest " +
        "beyond English next to NFC (d65) and the multilingual ops " +
        "(d44/d89).",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select(col("doc_id"),
            translate(col("text"), "aeiou ", "αεϊοθ·").as("text"))
        val tok = graft.operators.TextAnalysis.tokensUnicode _
        Retrieval.bm25TopK(
          Retrieval.postings(docs, "doc_id", "text", tok),
          QueryTerms.map { case (q, w) => (q, greekify(w)) }
            .toDF("query_id", "term"),
          Retrieval.corpusStats(docs, "text", tok),
          k = 10)
          .orderBy("query_id", "rk")
      },
      Some(s"""WITH docs2 AS (
        |  SELECT doc_id, translate(text, 'aeiou ', 'αεϊοθ·') AS text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '[^\\p{L}\\p{N}]+'),
        |      t -> len(t) > 0) AS tl
        |  FROM docs2),
        |posts AS (
        |  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
        |    SELECT doc_id, len(tl) AS dl, unnest(tl) AS term FROM toks)
        |  GROUP BY doc_id, term),
        |qry(query_id, term) AS (VALUES $GreekQuerySql),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(tl)) AS DOUBLE) / COUNT(*) AS avgdl FROM toks),
        |slice AS (SELECT p.* FROM posts p
        |          WHERE term IN (SELECT DISTINCT term FROM qry)),
        |dfq AS (SELECT term, COUNT(*) AS df FROM slice GROUP BY term),
        |sc AS (
        |  SELECT q.query_id, s.doc_id,
        |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      (tf * (1.2 + 1.0)) /
        |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
        |      AS contrib
        |  FROM slice s JOIN qry q USING (term) JOIN dfq USING (term),
        |       stats),
        |agg AS (SELECT query_id, doc_id,
        |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
        |      AS score
        |  FROM sc GROUP BY query_id, doc_id),
        |rk AS (SELECT query_id, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
        |  FROM agg)
        |SELECT CAST(query_id AS BIGINT) AS query_id, rk, doc_id, score
        |FROM rk WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin)),

    Q("d94_bm25_docmap_topk",
      "Document-at-a-time CACHED serving at general k — the online " +
        "path the round-10 bm25_serve ceiling fix runs (impactDocMap: " +
        "per-(term, doc) BM25 contributions precomputed as 9-dp " +
        "DECIMALs at cache time, the impact-ordered-index idea; " +
        "bm25TopKDocMap: one scan of the doc-partitioned forward " +
        "index probing each broadcast query's terms in a codegen'd " +
        "decimal fold, gathered through TopKAgg — a k-bounded buffer " +
        "aggregator that partial-aggregates map-side so the only " +
        "exchange moves ≤ k rows per (query × partition), the " +
        "scatter-gather plan a sharded text engine runs, where the " +
        "window form shuffles every candidate row). Oracle is d67's " +
        "VERBATIM at k=10: the cached doc-major serve must equal the " +
        "exhaustive term-major corpus scorer per-bit.",
      (s, dir) => {
        import s.implicits._
        val idx = textIndexDir(s, dir)
        val terms = QueryTerms.map(_._2).distinct
        val docMap = Retrieval.impactDocMap(
          Retrieval.readIndexSlice(s, idx, terms, nBuckets = 16),
          Retrieval.readStats(s, idx))
        val qArr = QueryTerms.groupBy(_._1).toSeq
          .map { case (q, ts) => (q, ts.map(_._2)) }
          .toDF("query_id", "terms")
        Retrieval.bm25TopKDocMap(docMap, qArr, k = 10)
          .orderBy("query_id", "rk")
          .localCheckpoint()
      },
      Some(Bm25OracleSql)),

    Q("d101_bm25_docmap_pruned",
      "Candidate-PRUNED document-at-a-time serving — the round-11 fix " +
        "for the |docs| × |batch| forward-index-scan wall " +
        "(bm25_serve_r10's ~1k qps ceiling): per-(query, doc) " +
        "candidates come from the INVERTED slice first (slice ⋈ " +
        "broadcast query terms — exactly Σ df pairs), and only those " +
        "docs' impact maps are probed, so scoring rows collapse from " +
        "|docs| × |batch| to Σ df for rare-term batches while the " +
        "gather keeps d94's TopKAgg partial-aggregating discipline " +
        "(docMap probed by broadcast hash join, never shuffled). The " +
        "serve picks scan-vs-prune per batch from the dictionary df " +
        "profile (the d75 plan-time-switch discipline — measured in " +
        "bm25_serve_r11); both paths are bit-identical, so the " +
        "oracle is d67's VERBATIM at k=10, same as d94's.",
      (s, dir) => {
        import s.implicits._
        val idx = textIndexDir(s, dir)
        val terms = QueryTerms.map(_._2).distinct
        val slice = Retrieval.readIndexSlice(s, idx, terms,
          nBuckets = 16)
        val docMap = Retrieval.impactDocMap(slice,
          Retrieval.readStats(s, idx))
        val qArr = QueryTerms.groupBy(_._1).toSeq
          .map { case (q, ts) => (q, ts.map(_._2)) }
          .toDF("query_id", "terms")
        Retrieval.bm25TopKDocMapPruned(docMap, slice, qArr, k = 10)
          .orderBy("query_id", "rk")
          .localCheckpoint()
      },
      Some(Bm25OracleSql)),

    Q("d103_hybrid_rrf",
      "HYBRID retrieval — Reciprocal Rank Fusion (Cormack et al., " +
        "SIGIR'09) of the lexical and semantic arms, the standard " +
        "first stage of a RAG serving stack: BM25 top-20 (d67's " +
        "scorer verbatim) fuses with embedding-cosine top-20 " +
        "(Similarity.cosineTopKBatch — broadcast query vectors, one " +
        "corpus scan for the whole batch, WindowGroupLimit-bounded " +
        "ranking; each query's vector is its doc's embedding, self " +
        "excluded) via score = Σ 1/(60+rk). RRF is RANK-only, so the " +
        "incomparable BM25/cosine scales never mix, and the fusion " +
        "input is top-k lists — k·|queries| rows, never corpus-sized; " +
        "the heavy lifting stays in the arms (Σ df candidates, " +
        "pruned ANN buckets). Contributions round to 9 and sum as " +
        "DECIMAL (order-proof), fused score rounds to 6, ties break " +
        "on doc_id; the oracle replays both arms and the fusion.",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val lex = Retrieval.bm25TopK(
          Retrieval.postings(docs, "doc_id", "text"),
          QueryTerms.toDF("query_id", "term"),
          corpusStatsLocal(s, dir),
          k = 20)
        val emb = t(s, dir, "embeddings")
        val qv = emb
          .filter(col("vec_id").isin(1L, 2L, 3L))
          .select(col("vec_id").as("query_id"),
            graft.operators.Similarity.asDouble(col("embedding"))
              .as("qv"))
        val sem = graft.operators.Similarity.cosineTopKBatch(
          emb, "vec_id", "embedding", qv, k = 20)
        graft.operators.Fusion.rrf(Seq(lex, sem), k = 10)
          .orderBy("query_id", "rk")
      },
      Some(s"""WITH posts AS (
      |  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
      |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |           unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |qry(query_id, term) AS (VALUES $QuerySql),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
      |      AS avgdl
      |  FROM documents),
      |slice AS (SELECT p.* FROM posts p
      |          WHERE term IN (SELECT DISTINCT term FROM qry)),
      |dfq AS (SELECT term, COUNT(*) AS df FROM slice GROUP BY term),
      |sc AS (
      |  SELECT q.query_id, s.doc_id,
      |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
      |      AS contrib
      |  FROM slice s JOIN qry q USING (term) JOIN dfq USING (term),
      |       stats),
      |lexagg AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM sc GROUP BY query_id, doc_id),
      |lex AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id ASC) AS rk
      |  FROM lexagg QUALIFY rk <= 20),
      |emb AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |qv AS (SELECT vec_id AS query_id, v AS qv FROM emb
      |       WHERE vec_id IN (1, 2, 3)),
      |cosr AS (SELECT q.query_id, e.vec_id AS doc_id,
      |    round(list_reduce(list_transform(generate_series(1, len(v)),
      |        i -> v[i] * qv[i]), (a,b) -> a + b) /
      |      (sqrt(list_reduce(list_transform(v, x -> x * x),
      |        (a,b) -> a + b)) *
      |       sqrt(list_reduce(list_transform(qv, x -> x * x),
      |        (a,b) -> a + b))), 9) AS cosine
      |  FROM emb e, qv q WHERE e.vec_id <> q.query_id),
      |sem AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, doc_id ASC) AS rk
      |  FROM cosr QUALIFY rk <= 20),
      |u AS (
      |  SELECT query_id, doc_id, round(1.0 / (60 + rk), 9) AS contrib
      |  FROM lex
      |  UNION ALL
      |  SELECT query_id, doc_id, round(1.0 / (60 + rk), 9) FROM sem),
      |fused AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM u GROUP BY query_id, doc_id)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk,
      |  doc_id, score
      |FROM fused QUALIFY rk <= 10 ORDER BY query_id, rk""".stripMargin)),

    Q("d105_maxsim_topk",
      "Multi-vector LATE-INTERACTION retrieval (ColBERT, Khattab & " +
        "Zaharia SIGIR'20; graft.operators.LateInteraction): score = " +
        "Σ per query token of MAX over doc tokens of the token-vector " +
        "dot product. Token vectors are deterministic hash features " +
        "(dim 8 on Dedup.hash60 — the operator is agnostic to where " +
        "vectors come from), so the corpus side streams (doc, token) " +
        "pairs from ONE explode, computes each vector once below the " +
        "broadcast nested-loop join against the tiny query-token set, " +
        "and the MaxSim inner max is a single hash aggregation whose " +
        "map-side partials collapse repeated tokens BEFORE the " +
        "shuffle — shuffled rows are |docs| × |query tokens|, never " +
        "corpus-token-sized. Dots round to 9, the per-token maxima " +
        "sum as DECIMAL(28,9), score rounds to 6, top-10 per query " +
        "with doc_id tie-break (the d67 serving contract).",
      (s, dir) => {
        import s.implicits._
        val qArr = QueryTerms.groupBy(_._1).toSeq
          .map { case (q, ts) => (q, ts.map(_._2)) }
          .toDF("query_id", "terms")
        graft.operators.LateInteraction.maxSimTopK(
          t(s, dir, "documents"), "doc_id", "text", qArr,
          dim = 8, k = 10)
          .orderBy("query_id", "rk")
      },
      Some(MaxSimOracleSql)),

    Q("d106_maxsim_pruned",
      "Sign-bucket-PRUNED MaxSim — PLAID's (Santhanam et al., " +
        "CIKM'22) centroid-pruning idea with the s05 multiprobe " +
        "sign-bucket family standing in for learned centroids: every " +
        "token vector buckets on the signs of its first 6 components, " +
        "a query token probes its own bucket + all Hamming-1 " +
        "neighbors (7 probe rows), and ONLY bucket-collided " +
        "(query-token, doc-token) pairs are scored — a broadcast " +
        "EQUI-join on the bucket key, so scored pairs collapse to the " +
        "collision fraction (~7/64 per probe) of the exact path's " +
        "corpus-tokens × |query tokens|. Approximate by design: a " +
        "query token whose true best match differs in ≥ 2 probed " +
        "sign bits scores its best CANDIDATE instead — the oracle " +
        "replays the pruning exactly (bit_count(xor) <= 1 ⇔ the " +
        "probe-set equi-join), and the maxsim Scale arm measures the " +
        "candidate cut + recall overlap vs exact d104.",
      (s, dir) => {
        import s.implicits._
        val qArr = QueryTerms.groupBy(_._1).toSeq
          .map { case (q, ts) => (q, ts.map(_._2)) }
          .toDF("query_id", "terms")
        graft.operators.LateInteraction.maxSimTopKPruned(
          t(s, dir, "documents"), "doc_id", "text", qArr,
          dim = 8, k = 10, bits = 6)
          .orderBy("query_id", "rk")
      },
      Some(s"""WITH qry(query_id, qterm) AS (VALUES $QuerySql),
      |qv0 AS (SELECT query_id, qterm,
      |    list_transform(generate_series(1, 8), j ->
      |      (('0x' || substr(md5(j || '_' || qterm), 1, 15))::BIGINT
      |        % 1000) / 1000.0 - 0.5) AS qv
      |  FROM qry),
      |qv AS (SELECT query_id, qterm, qv,
      |    CAST(list_sum(list_transform(generate_series(1, 6), i ->
      |      CASE WHEN qv[i] > 0 THEN (1::BIGINT << (i - 1))
      |           ELSE 0 END)) AS BIGINT) AS qb
      |  FROM qv0),
      |dt AS (SELECT DISTINCT doc_id, term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  WHERE len(term) > 0),
      |dv0 AS (SELECT doc_id, term,
      |    list_transform(generate_series(1, 8), j ->
      |      (('0x' || substr(md5(j || '_' || term), 1, 15))::BIGINT
      |        % 1000) / 1000.0 - 0.5) AS dv
      |  FROM dt),
      |dv AS (SELECT doc_id, term, dv,
      |    CAST(list_sum(list_transform(generate_series(1, 6), i ->
      |      CASE WHEN dv[i] > 0 THEN (1::BIGINT << (i - 1))
      |           ELSE 0 END)) AS BIGINT) AS db
      |  FROM dv0),
      |pairs AS (SELECT q.query_id, q.qterm, d.doc_id,
      |    round(list_reduce(list_transform(generate_series(1, 8),
      |        i -> qv[i] * dv[i]), (a, b) -> a + b), 9) AS dot
      |  FROM dv d, qv q WHERE bit_count(xor(d.db, q.qb)) <= 1),
      |mx AS (SELECT query_id, qterm, doc_id, MAX(dot) AS mx
      |  FROM pairs GROUP BY 1, 2, 3),
      |sc AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(mx AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM mx GROUP BY 1, 2)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk,
      |  doc_id, score
      |FROM sc QUALIFY rk <= 10 ORDER BY query_id, rk""".stripMargin)),

    Q("d139_maxsim_plaid",
      "PLAID-COMPLETE late-interaction serve (VERDICT r12 #3 — " +
        "Santhanam et al. CIKM'22's full shape, the s09 " +
        "shortlist→rerank discipline): the sign-bucket pruned pass " +
        "(d106's scorer verbatim) only NOMINATES the top-50 docs per " +
        "query, then d105's EXACT MaxSim scorer re-scores the " +
        "nominated docs alone and takes the final top-10 — recall " +
        "lost to bucket pruning comes back whenever the true top-10 " +
        "survives nomination (a pure centroid-score stage 1 was " +
        "measured and rejected: recall collapsed to 0.51 on uniform " +
        "hash-feature vectors). The nomination list is bounded at " +
        "c·|queries| rows so BOTH rerank joins broadcast: the corpus " +
        "streams once more, keeps only nominated docs' tokens via a " +
        "broadcast semi-join BEFORE the vector hashing, and the " +
        "rerank gather aggregates ≤ c·|queries|·|qterms| rows — " +
        "never the exact path's corpus-tokens × query-tokens. The " +
        "oracle replays nomination + rerank exactly as chained CTEs.",
      (s, dir) => {
        import s.implicits._
        val qArr = QueryTerms.groupBy(_._1).toSeq
          .map { case (q, ts) => (q, ts.map(_._2)) }
          .toDF("query_id", "terms")
        graft.operators.LateInteraction.maxSimTopKPlaid(
          t(s, dir, "documents"), "doc_id", "text", qArr,
          dim = 8, k = 10, bits = 6, c = 50)
          .orderBy("query_id", "rk")
      },
      Some(PlaidOracleSql)),

    Q("d107_rm3_expansion",
      "RM3 pseudo-relevance feedback (Lavrenko & Croft SIGIR'01 " +
        "relevance model, RM3 interpolation; Retrieval.rm3TopK): " +
        "BM25 top-5 feedback docs per query (d67's scorer verbatim) " +
        "→ relevance-model expansion weights w(t|q) = Σ tf/dl over " +
        "the feedback docs' postings (9-rounded parts, DECIMAL sum — " +
        "order-free), top-3 new terms per query → ONE weighted " +
        "rescoring pass with original terms at 1.0 and expansions at " +
        "β=0.5 (a power of two, so the weight multiply is IEEE-exact " +
        "cross-engine). The feedback and weighted-term relations are " +
        "BOUNDED driver collects (fbDocs·|Q| and |Q|·(orig+fbTerms) " +
        "rows) that re-enter the plan as broadcast local relations " +
        "and as literal pruning filters pushed below each stage's " +
        "postings aggregation; stage 2 reads only the feedback docs' " +
        "postings. The oracle replays all three stages as chained " +
        "CTEs.",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        // memoized postings checkpoint (d144/d147/d149's memo —
        // round 20): RM3's three stages are three differently-
        // filtered consumers of the postings relation, and raw
        // lineage re-tokenized the corpus in stage 1 (orig-term
        // slice) and stage 3 (weighted-term slice) — the exact
        // multi-consumer shape the d149 comment names. This is NOT
        // the r12 per-call checkpoint r19 removed (a fresh full
        // aggregation + pin per invocation); the session memo is
        // built once, shared with d140/d144/d147/d149, and its cold
        // build lands visibly in the first consumer's sample.
        Retrieval.rm3TopK(
          postings(s, dir),
          QueryTerms.toDF("query_id", "term"),
          corpusStatsLocal(s, dir),
          fbDocs = 5, fbTerms = 3, beta = 0.5, k = 10)
          .orderBy("query_id", "rk")
      },
      Some(Rm3OracleSql)),

    Q("d109_maxp_passage_topk",
      "Passage-level MaxP long-document retrieval (Dai & Callan " +
        "SIGIR'19; Retrieval.bm25MaxPTopK): documents split into " +
        "d96's 64-token/16-overlap windows, BM25 scores each PASSAGE " +
        "as a unit (passage-level tf/dl/df/avgdl — the fix for " +
        "length normalization burying a long doc whose relevant " +
        "content is one tight span), and a document ranks by its " +
        "BEST passage. The plan is d67's at passage granularity " +
        "(broadcast query slice, window df, decimal contribution " +
        "sums) plus ONE extra (query, doc) max before the bounded " +
        "top-10 window; passage ids encode the parent doc " +
        "(doc_id·100000 + chunk_id) so the collapse is integer " +
        "division, no join. The chunk relation is pinned once — " +
        "postings and stats both read it (the d107 discipline).",
      (s, dir) => {
        import s.implicits._
        val chunks = t(s, dir, "documents")
          .filter(length(col("text")) > 0)
          .select(col("doc_id"),
            explode(graft.operators.TextAnalysis
              .chunkExprs(col("text"), size = 64, overlap = 16))
              .as("c"))
          .select((col("doc_id") * 100000 + col("c.chunk_id"))
            .cast("long").as("pid"), col("c.chunk").as("chunk"))
          .localCheckpoint()
        Retrieval.bm25MaxPTopK(
          Retrieval.postings(chunks, "pid", "chunk"),
          QueryTerms.toDF("query_id", "term"),
          Retrieval.corpusStats(chunks, "chunk"),
          docIdOf = c => call_function("div", c, lit(100000L)),
          k = 10)
          .orderBy("query_id", "rk")
      },
      Some(s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents WHERE length(text) > 0),
      |c AS (
      |  SELECT doc_id, toks, n, unnest(range(0,
      |    CASE WHEN n <= 64 THEN 1
      |         ELSE CAST(ceil((n - 16) / 48.0) AS BIGINT) END))
      |    AS chunk_id
      |  FROM d),
      |ch AS (
      |  SELECT doc_id * 100000 + chunk_id AS pid,
      |    array_to_string(toks[chunk_id * 48 + 1 :
      |                         least(chunk_id * 48 + 64, n)], ' ')
      |      AS chunk
      |  FROM c),
      |posts AS (SELECT pid, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
      |  FROM (SELECT pid, len(string_split(chunk, ' ')) AS dl,
      |               unnest(string_split(chunk, ' ')) AS term
      |        FROM ch)
      |  GROUP BY pid, term),
      |qry(query_id, term) AS (VALUES $QuerySql),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(chunk, ' '))) AS DOUBLE) / COUNT(*)
      |      AS avgdl
      |  FROM ch),
      |slice AS (SELECT p.* FROM posts p
      |          WHERE term IN (SELECT DISTINCT term FROM qry)),
      |dfq AS (SELECT term, COUNT(*) AS df FROM slice GROUP BY term),
      |sc AS (SELECT q.query_id, s.pid,
      |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
      |      AS contrib
      |  FROM slice s JOIN qry q USING (term) JOIN dfq USING (term),
      |       stats),
      |pagg AS (SELECT query_id, pid,
      |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS pscore
      |  FROM sc GROUP BY query_id, pid),
      |dmax AS (SELECT query_id, pid // 100000 AS doc_id,
      |    MAX(pscore) AS score
      |  FROM pagg GROUP BY query_id, pid // 100000)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk,
      |  doc_id, score
      |FROM dmax QUALIFY rk <= 10 ORDER BY query_id, rk""".stripMargin)),

    Q("d110_phrase_search",
      "Exact PHRASE search over positional postings " +
        "(Retrieval.positionalPostings / phraseOccurrences — " +
        "Lucene's positions stream, relational): a phrase matches at " +
        "start s iff term i sits at s+i for every i, computed " +
        "set-at-a-time — every posting row anchors the start its " +
        "term implies (pos − offset) and a start covering ALL " +
        "distinct offsets is an occurrence (countDistinct handles " +
        "repeated phrase terms). The phrase set broadcasts; the only " +
        "shuffle is the (query, doc, start) aggregation over the " +
        "matched slice. Fixture phrases hit 40+ docs each, plus an " +
        "absent phrase that must return nothing.",
      (s, dir) => {
        import s.implicits._
        Retrieval.phraseOccurrences(
          Retrieval.positionalPostings(
            t(s, dir, "documents"), "doc_id", "text"),
          PhraseSet.toDF("query_id", "terms"))
          .orderBy("query_id", "doc_id")
      },
      Some(PhraseOracleSql)),

    Q("d113_phrase_indexed",
      "Phrase search from the PERSISTED positional index — d110 in " +
        "the d75 production shape: writeIndex(withPositions=true) " +
        "stores the positions stream (doc_id, term, pos) under the " +
        "same term-bucket partitioning as the postings, and serving " +
        "reads ONLY the phrase terms' buckets (file-level partition " +
        "pruning, the pruned-read discipline) — the corpus is never " +
        "re-tokenized at query time. phraseOccurrences consumes the " +
        "slice directly (the positional intersection only touches " +
        "phrase-term rows, so the slice loses nothing — oracle is " +
        "d110's VERBATIM). Positions ride the full index lifecycle: " +
        "appendIndex file-adds them, compactDeletes rewrites " +
        "survivors (spec-gated).",
      (s, dir) => {
        import s.implicits._
        // shares the memoized positional index (d75/d101/d114's
        // build): the gated claim is the pruned SERVE; the positions
        // lifecycle (append/compact) is spec-covered
        val idx = textIndexDir(s, dir)
        val terms = PhraseSet.flatMap(_._2).distinct
        Retrieval.phraseOccurrences(
          Retrieval.readPositionsSlice(s, idx, terms, nBuckets = 16),
          PhraseSet.toDF("query_id", "terms"))
          .orderBy("query_id", "doc_id")
      },
      Some(PhraseOracleSql)),

    Q("d148_phrase_post_delete",
      "Phrase serving of a post-delete, PRE-compaction positional " +
        "index — the r18 verdict #1 window closed: deleteDocs " +
        "writes only tombstones, and readPositionsSlice (like " +
        "readServableSlice — they share the index snapshot's " +
        "tombstone gate) anti-joins them out immediately, so a phrase serve " +
        "between delete and compaction behaves as if the deleted " +
        "docs were never indexed. Phrase matching uses no df or " +
        "corpus stats, so unlike d90's BM25 there is NO stale-stats " +
        "subtlety: the oracle is d110's intersection CTE over the " +
        "SURVIVING corpus verbatim — the d76 discipline applied to " +
        "positions.",
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-d148").toString
        try {
          val docs = t(s, dir, "documents")
          Retrieval.writeIndex(docs, "doc_id", "text", tmp,
            nBuckets = 16, withPositions = true)
          Retrieval.deleteDocs(
            docs.filter(col("doc_id") % 3 === 0).select("doc_id"), tmp)
          // NO compactDeletes — the serve happens inside the
          // tombstones-pending window, where the positional path
          // used to resurface deleted docs
          val terms = PhraseSet.flatMap(_._2).distinct
          Retrieval.phraseOccurrences(
            Retrieval.readPositionsSlice(s, tmp, terms, nBuckets = 16),
            PhraseSet.toDF("query_id", "terms"))
            .orderBy("query_id", "doc_id")
            .localCheckpoint()
        } finally Rm.rf(tmp)
      },
      Some(phraseOracleSql(
        "(SELECT * FROM documents WHERE doc_id % 3 <> 0)"))),

    Q("d114_proximity_indexed",
      "Proximity re-ranking from the PERSISTED positional index — " +
        "d111 in the d75 production shape, sharing d75/d101's " +
        "memoized index build (now written withPositions=true): the " +
        "candidate pass is the stored-df scorer over the pruned " +
        "postings slice, the positions pass reads only the query " +
        "terms' buckets of the positions sidecar, and the rescore " +
        "is the shared proximityRescore tail. The corpus is never " +
        "re-tokenized at serve time; oracle is d111's VERBATIM (the " +
        "stored-df/window-df equality is spec-gated, so the indexed " +
        "two-stage serve must match the batch one per-bit).",
      (s, dir) => {
        import s.implicits._
        val idx = textIndexDir(s, dir)
        Retrieval.proximityRerankIndexed(s, idx, nBuckets = 16,
          QueryTerms.toDF("query_id", "term"),
          QueryTerms.map(_._2).distinct, kCand = 20, k = 10)
          .orderBy("query_id", "rk")
      },
      Some(ProximityOracleSql)),

    Q("d111_proximity_rerank",
      "Term-proximity RE-RANKING (Retrieval.proximityRerank) — the " +
        "classic two-stage serve: BM25 nominates top-20 candidates " +
        "per query (d67's plan verbatim), then ONLY those docs' " +
        "query-term positions are fetched (broadcast semi-join " +
        "against the candidate set — positions never shuffle " +
        "corpus-wide) and each candidate's score gains " +
        "1/(1 + min |pa−pb|) over its tightest pair of distinct " +
        "query terms; docs holding one distinct term keep their BM25 " +
        "score. The within-candidate pair join is bounded by " +
        "candidate term occurrences. Oracle replays both stages.",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        Retrieval.proximityRerank(
          Retrieval.postings(docs, "doc_id", "text"),
          Retrieval.positionalPostings(docs, "doc_id", "text"),
          QueryTerms.toDF("query_id", "term"),
          corpusStatsLocal(s, dir),
          kCand = 20, k = 10)
          .orderBy("query_id", "rk")
      },
      Some(ProximityOracleSql)),

    Q("w38_streaming_rm3_serve",
      "STREAMED RM3 serving — d107 behind a live query feed (the " +
        "w30 discipline): the postings relation is pinned ONCE " +
        "before the stream starts (localCheckpoint — the three RM3 " +
        "stages re-filter it per batch, and raw lineage would " +
        "re-explode the corpus per stage per batch), queries arrive " +
        "one file each (maxFilesPerTrigger=1), and every micro-batch " +
        "runs the full three-stage expansion pipeline — feedback, " +
        "relevance-model weights, weighted rescore — writing " +
        "idempotently per batch id. Per-query results are " +
        "batch-invariant (each query's feedback set depends only on " +
        "itself and the static corpus), so the oracle is d107's " +
        "VERBATIM.",
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-w38").toString
        try {
          val docs = t(s, dir, "documents")
          val posts = Retrieval.postings(docs, "doc_id", "text")
            .localCheckpoint()
          // collected memo (round 20): same 1-row stats, no per-call
          // checkpoint pin job
          val stats = corpusStatsLocal(s, dir)
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(s"$tmp/in"))
          QueryTerms.groupBy(_._1).foreach { case (qid, qts) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$tmp/in/q$qid.json"),
              qts.map { case (q, t) =>
                s"""{"query_id":$q,"term":"$t"}""" }
                .mkString("\n").getBytes("UTF-8"))
          }
          val stream = s.readStream
            .schema("query_id LONG, term STRING")
            .option("maxFilesPerTrigger", 1)
            .json(s"$tmp/in")
          val q = stream.writeStream
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                             batchId: Long) =>
              if (!batch.isEmpty) {
                Retrieval.rm3TopK(posts,
                  batch.localCheckpoint(), stats,
                  fbDocs = 5, fbTerms = 3, beta = 0.5, k = 10)
                  .write.mode("overwrite").parquet(s"$tmp/out/b$batchId")
              }
            }
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          s.read.parquet(s"$tmp/out/b*")
            .orderBy("query_id", "rk")
            .localCheckpoint()
        } finally Rm.rf(tmp)
      },
      Some(Rm3OracleSql)),

    Q("d116_maxsim_chunked_embeddings",
      "MaxSim over REAL embeddings (LateInteraction." +
        "maxSimTopKVectors) — the multi-vector scorer decoupled from " +
        "the hash token features: each 64-dim embedding splits into " +
        "8 contiguous 8-dim sub-vectors (the multi-vector form a " +
        "per-chunk encoder would emit), queries are docs 1–3's " +
        "chunk sets, and the score is Σ per query chunk of MAX over " +
        "doc chunks of the dot product. Same plan as the text path: " +
        "broadcast query vectors, inner max as ONE hash agg with " +
        "map-side partials (shuffled rows ≤ |docs| × 8), decimal " +
        "Σ-of-maxima, bounded top-10 window. Self-match ranks first " +
        "by construction (a vector's chunks match themselves " +
        "perfectly) — kept in both engines as the sanity row.",
      (s, dir) => {
        import s.implicits._
        def chunked(e: org.apache.spark.sql.DataFrame) = e.select(
            col("vec_id"),
            posexplode(transform(sequence(lit(0), lit(7)), c =>
              transform(slice(col("embedding"), c * 8 + 1, lit(8)),
                x => x.cast("double")))).as(Seq("cidx", "cv")))
        val emb = t(s, dir, "embeddings")
        val docVecs = chunked(emb)
          .select(col("vec_id").as("doc_id"), col("cv").as("dv"))
        val qVecs = chunked(emb.filter(col("vec_id").isin(1L, 2L, 3L)))
          .select(col("vec_id").as("query_id"),
            col("cidx").as("qidx"), col("cv").as("qv"))
        graft.operators.LateInteraction
          .maxSimTopKVectors(docVecs, qVecs, k = 10)
          .orderBy("query_id", "rk")
      },
      Some("""WITH emb AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |ch AS (SELECT vec_id, unnest(range(0, 8)) AS c, v FROM emb),
      |dv AS (SELECT vec_id AS doc_id,
      |    v[CAST(c * 8 + 1 AS INT) : CAST(c * 8 + 8 AS INT)] AS dv
      |  FROM ch),
      |qv AS (SELECT vec_id AS query_id, c AS qidx,
      |    v[CAST(c * 8 + 1 AS INT) : CAST(c * 8 + 8 AS INT)] AS qv
      |  FROM ch WHERE vec_id IN (1, 2, 3)),
      |pairs AS (SELECT q.query_id, q.qidx, d.doc_id,
      |    round(list_reduce(list_transform(generate_series(1, 8),
      |        i -> qv[i] * dv[i]), (a, b) -> a + b), 9) AS dot
      |  FROM dv d, qv q),
      |mx AS (SELECT query_id, qidx, doc_id, MAX(dot) AS mx
      |  FROM pairs GROUP BY 1, 2, 3),
      |sc AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(mx AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM mx GROUP BY 1, 2)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk,
      |  doc_id, score
      |FROM sc QUALIFY rk <= 10 ORDER BY query_id, rk""".stripMargin)),

    Q("d117_ir_eval",
      "Ranked-retrieval EVALUATION (IrEval.evaluate — the trec_eval " +
        "triple, relational): nDCG@10 (graded (2^rel−1)/log2(rk+1) " +
        "gains, ideal from the qrels' own grades best-first), MRR " +
        "(1/first-relevant-rank), recall@10 — scored for d67's BM25 " +
        "run against DETERMINISTIC graded qrels derived from the " +
        "corpus itself: a doc is relevant iff it contains ≥ 2 " +
        "distinct query terms, grade = min(n_terms − 1, 2), so the " +
        "run retrieves a mix of relevant and non-relevant docs and " +
        "all three metrics are informative. Everything after the " +
        "broadcast run⋈qrels join is k·|queries|-sized — the corpus " +
        "never appears in the eval. DCG terms round to 9 and sum as " +
        "DECIMAL; metrics round to 6.",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val posts = Retrieval.postings(docs, "doc_id", "text")
          .localCheckpoint()   // run + qrels both read it
        val q = QueryTerms.toDF("query_id", "term")
        val stats = corpusStatsLocal(s, dir)
        val run = Retrieval.bm25TopK(posts, q, stats, k = 10)
        val qrels = posts.join(broadcast(q), "term")
          .groupBy("query_id", "doc_id")
          .agg(countDistinct(col("term")).as("nt"))
          .filter(col("nt") >= 2)
          .select(col("query_id"), col("doc_id"),
            least(col("nt") - 1, lit(2)).cast("int").as("rel"))
        graft.operators.IrEval.evaluate(run, qrels, k = 10)
          .orderBy("query_id")
      },
      Some(s"""WITH posts AS (
      |  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
      |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |           unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |qry(query_id, term) AS (VALUES $QuerySql),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
      |      AS avgdl
      |  FROM documents),
      |slice AS (SELECT p.* FROM posts p
      |          WHERE term IN (SELECT DISTINCT term FROM qry)),
      |dfq AS (SELECT term, COUNT(*) AS df FROM slice GROUP BY term),
      |sc AS (SELECT q.query_id, s.doc_id,
      |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
      |      AS contrib
      |  FROM slice s JOIN qry q USING (term) JOIN dfq USING (term),
      |       stats),
      |agg AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM sc GROUP BY query_id, doc_id),
      |run AS (SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM agg) WHERE rk <= 10),
      |qr AS (SELECT query_id, doc_id,
      |    LEAST(COUNT(DISTINCT term) - 1, 2) AS rel
      |  FROM posts JOIN qry USING (term)
      |  GROUP BY query_id, doc_id
      |  HAVING COUNT(DISTINCT term) >= 2),
      |hits AS (SELECT r.query_id, r.rk, q.rel
      |  FROM run r LEFT JOIN qr q
      |    ON q.query_id = r.query_id AND q.doc_id = r.doc_id),
      |dcg AS (SELECT query_id,
      |    SUM(CAST(round((pow(2.0, COALESCE(rel, 0)) - 1.0) /
      |      (ln(rk + 1.0) / ln(2.0)), 9) AS DECIMAL(28,9))) AS dcg,
      |    MIN(CASE WHEN rel > 0 THEN rk END) AS first_rel,
      |    COUNT(CASE WHEN rel > 0 THEN 1 END) AS n_hit
      |  FROM hits GROUP BY query_id),
      |ideal AS (SELECT query_id,
      |    SUM(CASE WHEN irk <= 10 THEN
      |      CAST(round((pow(2.0, rel) - 1.0) /
      |        (ln(irk + 1.0) / ln(2.0)), 9) AS DECIMAL(28,9))
      |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS idcg,
      |    COUNT(*) AS n_rel
      |  FROM (SELECT query_id, rel, row_number() OVER (
      |      PARTITION BY query_id ORDER BY rel DESC, doc_id ASC)
      |      AS irk FROM qr)
      |  GROUP BY query_id)
      |SELECT CAST(d.query_id AS BIGINT) AS query_id,
      |  CASE WHEN CAST(idcg AS DOUBLE) > 0.0
      |    THEN round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
      |    ELSE 0.0 END AS ndcg,
      |  COALESCE(round(1.0 / first_rel, 6), 0.0) AS mrr,
      |  CASE WHEN n_rel > 0
      |    THEN round(CAST(n_hit AS DOUBLE) / n_rel, 6)
      |    ELSE 0.0 END AS recall
      |FROM dcg d JOIN ideal USING (query_id)
      |ORDER BY query_id""".stripMargin)),

    Q("d118_rank_rbo",
      "Rank-Biased Overlap (Webber, Moffat & Zobel TOIS'10; " +
        "IrEval.rbo) between the plain BM25 ranking and the RM3 " +
        "expanded one — the top-weighted 'how much did my ranking " +
        "change' monitor every serving rollout watches: RBO@10 with " +
        "persistence p=0.9, computed relationally with NO depth " +
        "explosion — a doc common to both runs at ranks (ra, rb) " +
        "contributes the closed sum Σ_{d≥max(ra,rb)} p^(d−1)/d as " +
        "one ≤10-term HOF fold on the joined row; one " +
        "k·|queries|-sized equi-join + one aggregation total, " +
        "normalized by the depth-k maximum 1−p^k so identical runs " +
        "score exactly 1. The " +
        "(1−p) factor is written as the SAME computed expression in " +
        "both engines (1.0 − 0.9 is not the double 0.1 — the bm25 " +
        "(1.2 + 1.0) discipline). Oracle replays both rankings (the " +
        "RM3 chain's stage-1 scores ARE the BM25 run) and the fold.",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val posts = Retrieval.postings(docs, "doc_id", "text")
          .localCheckpoint()
        val q = QueryTerms.toDF("query_id", "term")
        // collected memo, not a per-call localCheckpoint: the 1-row
        // LocalRelation serves both runs with zero pinned blocks
        val stats = corpusStatsLocal(s, dir)
        val runA = Retrieval.bm25TopK(posts, q, stats, k = 10)
        val runB = Retrieval.rm3TopK(posts, q, stats,
          fbDocs = 5, fbTerms = 3, beta = 0.5, k = 10)
        graft.operators.IrEval.rbo(runA, runB, k = 10, p = 0.9)
          .orderBy("query_id")
      },
      Some(s"""WITH posts AS (
      |  SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl FROM (
      |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |           unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |qry(query_id, term) AS (VALUES $QuerySql),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
      |      AS avgdl
      |  FROM documents),
      |slice1 AS (SELECT p.* FROM posts p
      |           WHERE term IN (SELECT DISTINCT term FROM qry)),
      |df1 AS (SELECT term, COUNT(*) AS df FROM slice1 GROUP BY term),
      |sc1 AS (SELECT q.query_id, s.doc_id,
      |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
      |      AS contrib
      |  FROM slice1 s JOIN qry q USING (term) JOIN df1 USING (term),
      |       stats),
      |agg1 AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM sc1 GROUP BY query_id, doc_id),
      |run_a AS (SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM agg1) WHERE rk <= 10),
      |fb AS (SELECT query_id, doc_id FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM agg1) WHERE rk <= 5),
      |wts AS (SELECT f.query_id, p.term,
      |    SUM(CAST(round(CAST(tf AS DOUBLE) / dl, 9)
      |      AS DECIMAL(28,9))) AS wsum
      |  FROM posts p JOIN fb f USING (doc_id)
      |  GROUP BY f.query_id, p.term),
      |expn AS (SELECT query_id, term, 0.5 AS w FROM (
      |    SELECT w.query_id, w.term, row_number() OVER (
      |        PARTITION BY w.query_id
      |        ORDER BY wsum DESC, w.term ASC) AS erk
      |    FROM wts w ANTI JOIN qry q
      |      ON q.query_id = w.query_id AND q.term = w.term)
      |  WHERE erk <= 3),
      |wq AS (SELECT DISTINCT query_id, term, 1.0 AS w FROM qry
      |       UNION ALL SELECT query_id, term, w FROM expn),
      |slice2 AS (SELECT p.* FROM posts p
      |           WHERE term IN (SELECT DISTINCT term FROM wq)),
      |df2 AS (SELECT term, COUNT(*) AS df FROM slice2 GROUP BY term),
      |sc2 AS (SELECT q.query_id, s.doc_id,
      |    round(q.w * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
      |      AS contrib
      |  FROM slice2 s JOIN wq q USING (term) JOIN df2 USING (term),
      |       stats),
      |agg2 AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM sc2 GROUP BY query_id, doc_id),
      |run_b AS (SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM agg2) WHERE rk <= 10),
      |common AS (SELECT a.query_id,
      |    round((1.0 - 0.9) * list_reduce(
      |      list_transform(generate_series(
      |        CAST(greatest(a.rk, b.rk) AS BIGINT), 10),
      |        d -> pow(0.9, d - 1) / d),
      |      (x, y) -> x + y), 9) AS contrib
      |  FROM run_a a JOIN run_b b
      |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE) /
      |    (1.0 - pow(0.9, 10)), 6) AS rbo
      |FROM common GROUP BY query_id ORDER BY query_id""".stripMargin)),

    Q("w35_streaming_maxsim_serve",
      "Streamed MaxSim late-interaction serving — d105 in w30's " +
        "production shape: the STATIC side is the per-(doc, distinct " +
        "token) vector map (LateInteraction.docTokenMap), cached ONCE " +
        "before the stream starts (the w25/w30 static-side " +
        "discipline); queries arrive one file per query " +
        "(maxFilesPerTrigger=1 → one micro-batch each); foreachBatch " +
        "scans the cached map once under the broadcast query tokens, " +
        "runs the same max/Σ/top-10 gather, and writes each batch " +
        "idempotently (overwrite per batch id). Oracle is d105's " +
        "VERBATIM — the streamed doc-at-a-time serve must equal the " +
        "batch scorer per-bit, duplicate-token pre-collapse included.",
      (s, dir) => {
        import s.implicits._
        val L = graft.operators.LateInteraction
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-w35").toString
        var cached: Option[org.apache.spark.sql.DataFrame] = None
        try {
          val tokMap = L.docTokenMap(t(s, dir, "documents"),
            "doc_id", "text", dim = 8).cache()
          tokMap.count()                     // materialize pre-stream
          cached = Some(tokMap)
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(s"$tmp/in"))
          QueryTerms.groupBy(_._1).foreach { case (qid, qts) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$tmp/in/q$qid.json"),
              qts.map { case (q, t) =>
                s"""{"query_id":$q,"term":"$t"}""" }
                .mkString("\n").getBytes("UTF-8"))
          }
          val stream = s.readStream
            .schema("query_id LONG, term STRING")
            .option("maxFilesPerTrigger", 1)
            .json(s"$tmp/in")
          val q = stream.writeStream
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                             batchId: Long) =>
              if (!batch.isEmpty) {
                val qArr = batch.groupBy("query_id")
                  .agg(collect_list(col("term")).as("terms"))
                L.maxSimTopKFromMap(tokMap, qArr, dim = 8, k = 10)
                  .write.mode("overwrite").parquet(s"$tmp/out/b$batchId")
              }
            }
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          s.read.parquet(s"$tmp/out/b*")
            .orderBy("query_id", "rk")
            .localCheckpoint()
        } finally {
          cached.foreach(_.unpersist())
          Rm.rf(tmp)
        }
      },
      Some(MaxSimOracleSql)),

    Q("d123_hard_negative_mining",
      "HARD-NEGATIVE mining for embedding/reranker training (the " +
        "DPR/SentenceTransformers BM25-negatives recipe): per query, " +
        "the BM25 top-1 is the pseudo-positive, ranks 2..10 are " +
        "candidate negatives, and candidates that are NEAR-DUPS of " +
        "the positive (exact distinct-token Jaccard ≥ 0.5) are " +
        "dropped — they are probable unlabeled positives, the " +
        "classic false-negative trap. The ranked list is the d67 " +
        "serve (localCheckpoint-pinned so the three consumers read " +
        "ONE materialization — the d100 multi-scan lesson); token " +
        "sets are fetched ONLY for top-k ids (a broadcast semi-join " +
        "slice, candidate-sized, never a corpus-wide tokenization); " +
        "positives and candidate slices broadcast into the verify. " +
        "Oracle: the d67 CTE chain + the same Jaccard gate.",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val top = Retrieval.bm25TopK(
          Retrieval.postings(docs, "doc_id", "text"),
          QueryTerms.toDF("query_id", "term"),
          corpusStatsLocal(s, dir), k = 10)
          .localCheckpoint()
        val ids = top.select("doc_id").distinct()
        val toks = docs.join(broadcast(ids), "doc_id")
          .select(col("doc_id"),
            array_distinct(split(col("text"), " ")).as("ts"))
          .localCheckpoint()
        val pos = top.filter(col("rk") === 1)
          .select(col("query_id"), col("doc_id").as("pos_id"))
        top.filter(col("rk") > 1)
          .join(broadcast(pos), "query_id")
          .join(broadcast(toks.withColumnRenamed("ts", "cand_ts")),
            "doc_id")
          .join(broadcast(toks.select(col("doc_id").as("pos_id"),
            col("ts").as("pos_ts"))), "pos_id")
          .withColumn("jac_pos", round(graft.operators.Dedup
            .jaccard(col("cand_ts"), col("pos_ts")), 6))
          .filter(col("jac_pos") < 0.5)
          .select("query_id", "rk", "doc_id", "score", "jac_pos")
          .orderBy("query_id", "rk")
      },
      Some(s"""${bm25Ctes("documents")},
        |top AS (SELECT CAST(query_id AS BIGINT) AS query_id, rk,
        |    doc_id, score FROM rk WHERE rk <= 10),
        |toks AS (SELECT doc_id,
        |    list_distinct(string_split(text, ' ')) AS ts
        |  FROM documents),
        |pos AS (SELECT query_id, doc_id AS pos_id FROM top
        |  WHERE rk = 1),
        |neg AS (SELECT t.query_id, t.rk, t.doc_id, t.score,
        |    round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.ts, b.ts)))
        |        AS DOUBLE), 6) AS jac_pos
        |  FROM top t JOIN pos p USING (query_id)
        |    JOIN toks a ON a.doc_id = t.doc_id
        |    JOIN toks b ON b.doc_id = p.pos_id
        |  WHERE t.rk > 1)
        |SELECT query_id, rk, doc_id, score, jac_pos FROM neg
        |WHERE jac_pos < 0.5 ORDER BY query_id, rk""".stripMargin)),

    Q("d141_plaid_indexed",
      "d139's PLAID serve from the PERSISTED token index — the " +
        "production shape (the d75/d94 memoized-index discipline): " +
        "the per-(doc, distinct token) vector map is stored as a " +
        "doc_id-BUCKETED table, whose scan partitioning keeps every " +
        "gather aggregation exchange-free on both the nomination and " +
        "rerank stages (measured in the maxsim arm: 816k shuffle " +
        "records CONSTANT from 20k to 200k docs; a localCheckpoint " +
        "would drop the clustering — its partitioning dangles on " +
        "stale attribute ids). Results must equal the batch path " +
        "per-bit: the oracle is d139's VERBATIM.",
      (s, dir) => {
        import s.implicits._
        val qArr = QueryTerms.groupBy(_._1).toSeq
          .map { case (q, ts) => (q, ts.map(_._2)) }
          .toDF("query_id", "terms")
        graft.operators.LateInteraction.maxSimTopKPlaidFromMap(
          s.table(plaidTokMapTable(s, dir)), qArr,
          dim = 8, k = 10, bits = 6, c = 50)
          .orderBy("query_id", "rk")
          .localCheckpoint()
      },
      Some(PlaidOracleSql)),

    Q("w46_streaming_plaid_serve",
      "Streamed PLAID serving from the PERSISTED doc_id-bucketed " +
        "token index — d141 in w35's production shape (VERDICT r15 " +
        "#4: the plaid_serve probe measured qps but was the only " +
        "serving path without a streamed CORRECTNESS twin): the " +
        "static side is d141's bucketed token-map TABLE, cached ONCE " +
        "before the stream starts (InMemoryRelation preserves the " +
        "bucketed scan's hash partitioning, so both per-batch gather " +
        "aggregations stay exchange-free — PlanShapeSpec's " +
        "plaid_serve claim); queries arrive one file per query " +
        "(maxFilesPerTrigger=1 → one micro-batch each); foreachBatch " +
        "runs the full nominate→exact-rerank serve and writes each " +
        "batch idempotently (overwrite per batch id). Nomination is " +
        "per-query (the top-c window partitions by query_id), so " +
        "batch composition cannot change any query's answer. Oracle " +
        "is d141's VERBATIM (= d139's): the streamed indexed serve " +
        "must equal the batch path per-bit.",
      (s, dir) => {
        import s.implicits._
        val L = graft.operators.LateInteraction
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-w46").toString
        var cached: Option[org.apache.spark.sql.DataFrame] = None
        try {
          val tokMap = s.table(plaidTokMapTable(s, dir)).cache()
          tokMap.count()                     // materialize pre-stream
          cached = Some(tokMap)
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(s"$tmp/in"))
          QueryTerms.groupBy(_._1).foreach { case (qid, qts) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$tmp/in/q$qid.json"),
              qts.map { case (q, t) =>
                s"""{"query_id":$q,"term":"$t"}""" }
                .mkString("\n").getBytes("UTF-8"))
          }
          val stream = s.readStream
            .schema("query_id LONG, term STRING")
            .option("maxFilesPerTrigger", 1)
            .json(s"$tmp/in")
          val q = stream.writeStream
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                             batchId: Long) =>
              if (!batch.isEmpty) {
                val qArr = batch.groupBy("query_id")
                  .agg(collect_list(col("term")).as("terms"))
                // capped serve (VERDICT r16 #4): a backlogged trigger
                // cannot hand one plan a sharing-flattening giant
                // batch; at this query's 1-query batches the cap
                // delegates straight through, so the oracle row is
                // untouched
                L.maxSimTopKPlaidFromMapCapped(tokMap, qArr,
                  dim = 8, k = 10, bits = 6, c = 50)
                  .write.mode("overwrite").parquet(s"$tmp/out/b$batchId")
              }
            }
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          s.read.parquet(s"$tmp/out/b*")
            .orderBy("query_id", "rk")
            .localCheckpoint()
        } finally {
          cached.foreach(_.unpersist())
          Rm.rf(tmp)
        }
      },
      Some(PlaidOracleSql)),

    Q("d145_maxsim_auto_serve",
      "PLAN-TIME serve-arm switch over the persisted token index " +
        "(VERDICT r16 #1 — the measured PLAID/exact crossover wired " +
        "into code, the d75 plan-time-switch discipline): " +
        "maxSimServeFromMap reads the token map's row count at plan " +
        "time and serves EXACT below the measured ~2M-row crossover " +
        "(where the shared-crossJoin exact scorer is both faster AND " +
        "lossless — r16 measured 4.1 vs 6.4 s at 1x) and PLAID " +
        "nominate+rerank above it (28.2 vs 77.4 s at 30x). At every " +
        "oracle/bench sf the corpus sits far below the crossover, so " +
        "the switch must pick the exact arm — asserted here so a " +
        "crossover recalibration that flips the arm fails loudly " +
        "instead of hash-mismatching; the oracle is d105/w35's exact " +
        "MaxSim SQL verbatim.",
      (s, dir) => {
        import s.implicits._
        val qArr = QueryTerms.groupBy(_._1).toSeq
          .map { case (q, ts) => (q, ts.map(_._2)) }
          .toDF("query_id", "terms")
        val (arm, res) = graft.operators.LateInteraction
          .maxSimServeFromMapPlan(
            s.table(plaidTokMapTable(s, dir)), qArr,
            dim = 8, k = 10, bits = 6, c = 50)
        require(arm == "exact",
          s"d145: switch picked '$arm' below the crossover — the " +
            "exact-MaxSim oracle no longer matches the served arm")
        res.orderBy("query_id", "rk").localCheckpoint()
      },
      Some(MaxSimOracleSql)),

    Q("d144_ql_dirichlet",
      "Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty " +
        "SIGIR'01 — VERDICT r16 #8): the classic probabilistic " +
        "family next to BM25. One corpus-LM pass (|C| = total token " +
        "count, collection frequencies for the broadcast query " +
        "terms — the d30 shape), then per-(query, doc) smoothed " +
        "log-likelihood ln((tf + mu*cf/|C|)/(dl + mu)) as a " +
        "decimal-exact aggregate over the postings slice; docs " +
        "matching >= 1 query term are ranked under the full QL " +
        "order including their absent terms' smoothing mass. The " +
        "oracle replays the smoothing arithmetic step for step.",
      (s, dir) => {
        import s.implicits._
        val q = QueryTerms.toDF("query_id", "term")
        graft.operators.Retrieval.qlDirichletTopK(
          postings(s, dir), q, k = 10)
          .orderBy("query_id", "rk")
      },
      Some(QlOracleSql)),

    Q("d146_ql_dirichlet_indexed",
      "d144's Dirichlet query-likelihood serve from the PERSISTED " +
        "inverted index (the d67/d75 production shape, sharing " +
        "d75/d101's memoized read-only index): the collection " +
        "constant |C| comes EXACTLY from the stored stats " +
        "(sum_tokens IS the Sigma-tf long the batch scorer " +
        "aggregates, decremented exactly on compaction), so the one " +
        "corpus-LM pass disappears; the slice is a term-pruned " +
        "bucketed read and cf over it IS the collection frequency. " +
        "Results must equal the batch path per-bit: the oracle is " +
        "d144's VERBATIM.",
      (s, dir) => {
        import s.implicits._
        val q = QueryTerms.toDF("query_id", "term")
        graft.operators.Retrieval.qlDirichletIndexedTopK(
          s, textIndexDir(s, dir), q, k = 10, nBuckets = 16)
          .orderBy("query_id", "rk")
      },
      Some(QlOracleSql)),

    Q("w47_streaming_ql_serve",
      "Streamed Dirichlet-QL serving from the PERSISTED index " +
        "(VERDICT r17 #4) — the QL twin of w30's streamed BM25 " +
        "serve, sharing d75/d101/d146's memoized read-only index: " +
        "queries arrive one ndjson file per query " +
        "(maxFilesPerTrigger=1, so each query is served in its own " +
        "micro-batch); every batch runs qlDirichletIndexedTopK " +
        "against the stored tables — a term-pruned bucketed postings " +
        "slice for exactly the batch's terms, the collection " +
        "constant |C| read from the stored stats (sum_tokens IS the " +
        "exact Sigma-tf long, so the serve pays ZERO corpus passes), " +
        "and the SAME qlGather decimal scoring tail as the batch " +
        "scorer — so the streamed serve is bit-identical per query " +
        "to d144. Batches write idempotently (overwrite per batch " +
        "id); the oracle is d144's VERBATIM.",
      (s, dir) => {
        import s.implicits._
        val idx = textIndexDir(s, dir)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-w47").toString
        try {
          // one ndjson file PER QUERY: a query's terms must co-arrive
          // (the w30 discipline — a query split across micro-batches
          // would score partial term sets)
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(s"$tmp/in"))
          QueryTerms.groupBy(_._1).foreach { case (qid, qts) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$tmp/in/q$qid.json"),
              qts.map { case (q, t) =>
                s"""{"query_id":$q,"term":"$t"}""" }
                .mkString("\n").getBytes("UTF-8"))
          }
          val stream = s.readStream
            .schema("query_id LONG, term STRING")
            .option("maxFilesPerTrigger", 1)
            .json(s"$tmp/in")
          val q = stream.writeStream
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                             batchId: Long) =>
              if (!batch.isEmpty) {
                graft.operators.Retrieval.qlDirichletIndexedTopK(
                    s, idx, batch, k = 10, nBuckets = 16)
                  .write.mode("overwrite").parquet(s"$tmp/out/b$batchId")
              }
            }
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          s.read.parquet(s"$tmp/out/b*")
            .orderBy("query_id", "rk")
            .localCheckpoint()
        } finally Rm.rf(tmp)
      },
      Some(QlOracleSql)),

    Q("d147_sdm_topk",
      "Sequential Dependence Model ranking (Metzler & Croft, " +
        "SIGIR'05 — VERDICT r17 #8): the standard three-family " +
        "combination the positional machinery stopped one step short " +
        "of — lambda-weighted (0.85/0.1/0.05) Dirichlet-smoothed " +
        "unigram QL (d144's arm VERBATIM, same smoothing " +
        "arithmetic), exact-adjacency ORDERED windows (Indri #1: " +
        "pos_b = pos_a + 1) and UNORDERED 8-token windows (Indri " +
        "#uw8: |pos_b - pos_a| < 8) over each adjacent query bigram, " +
        "window counts computed per DISTINCT bigram and shared " +
        "across queries. Postings come from d144's memoized " +
        "checkpoint; positions from the PERSISTED positional index " +
        "(d113's term-pruned bucketed read — the corpus is never " +
        "re-tokenized at query time). Collection-absent features " +
        "drop per family (the d144 OOV discipline); candidates are " +
        "unigram-matched docs ranked under the FULL SDM order " +
        "including absent-window smoothing mass. The oracle replays " +
        "all three families step for step.",
      (s, dir) => {
        import s.implicits._
        val idx = textIndexDir(s, dir)
        val terms = SdmQueryTerms.map(_._3).distinct
        // The positions slice stays RAW lineage (round-19
        // measurement): it is a term-pruned read — the cheap subtree
        // class — and pinning it cost more than the window join's
        // second read saves (d147 1.89 → 2.50 s with the pin).
        // sdmTopK's MATERIALIZED-input contract is about corpus
        // tokenize lineage, which this is not.
        Retrieval.sdmTopK(
          postings(s, dir),
          Retrieval.readPositionsSlice(s, idx, terms, nBuckets = 16),
          SdmQueryTerms.toDF("query_id", "qpos", "term"), k = 10)
          .orderBy("query_id", "rk")
      },
      Some(SdmOracleSql)),

    Q("d150_sdm_indexed",
      "SDM serving from the PERSISTED positional index (VERDICT r18 " +
        "#8 — the d146-for-d144 move applied to d147): the " +
        "collection constant |C| comes EXACTLY from the stored " +
        "sum_tokens, the unigram slice is the term-pruned SERVABLE " +
        "postings read (tombstone-aware), and both window families " +
        "score from the term-pruned positions slice — ZERO corpus " +
        "passes at serve time, every read file-pruned to the query " +
        "terms' buckets. Bit-identity to the batch scorer is " +
        "spec-gated; the oracle is d147's VERBATIM — the indexed " +
        "serve must equal the batch three-family scorer per-bit " +
        "(the d67/d75 discipline).",
      (s, dir) => {
        import s.implicits._
        val idx = textIndexDir(s, dir)
        Retrieval.sdmIndexedTopK(s, idx,
          SdmQueryTerms.toDF("query_id", "qpos", "term"), k = 10,
          nBuckets = 16)
          .orderBy("query_id", "rk")
      },
      Some(SdmOracleSql)),

    Q("d140_serving_quality_matrix",
      "SERVING-QUALITY regression matrix (VERDICT r12 #8 — the " +
        "end-to-end loop d117's machinery existed for): SEVEN serving " +
        "paths — exact cosine (s01's batch arm), PCA-pruned cosine " +
        "(s20's candidate→rerank chain), sign-bucket-pruned MaxSim " +
        "(d106's scorer), PLAID-complete nominate+rerank (d139's " +
        "serve — VERDICT r13 #3), hybrid BM25+cosine RRF (d103's " +
        "fusion), Dirichlet query likelihood (d144's scorer — " +
        "VERDICT r16 #8) and the sequential dependence model " +
        "(d147's scorer — VERDICT r17 #8) " +
        "— run over the SAME three queries and are judged against " +
        "the same planted graded qrels (rel = distinct query terms " +
        "present in the doc, capped at 3 — deterministic, " +
        "content-derived) with per-path per-query nDCG@10 / MRR / " +
        "recall@10 in ONE oracled result. This is the regression " +
        "harness every serving change runs: a pruning or fusion " +
        "tweak that shifts any path's ranking moves its row. On " +
        "lexical qrels the token-overlap path dominates (pruned " +
        "MaxSim ~0.99 mean nDCG@10 at sf0.01) and raw embedding " +
        "cosine trails (~0.65) — the expected ordering, each row " +
        "interpretable. " +
        "Eval cost after the arms: 4 broadcast run⋈qrels joins, all " +
        "k·|queries|-sized; the oracle replays all four arms + the " +
        "evaluation as one CTE chain.",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        import graft.operators.{Fusion, IrEval, LinAlg, Retrieval,
          Similarity}
        val docs = t(s, dir, "documents")
        val q = QueryTerms.toDF("query_id", "term")
        val qArr = QueryTerms.groupBy(_._1).toSeq
          .map { case (qq, ts) => (qq, ts.map(_._2)) }
          .toDF("query_id", "terms")
        // memoized checkpoint (shared with d144): lex run + qrels +
        // the ql arm read one scan, and repeat invocations don't pin
        // fresh corpus-postings copies
        val posts = postings(s, dir)
        val qrels = posts.join(broadcast(q), "term")
          .groupBy("query_id", "doc_id")
          .agg(countDistinct(col("term")).as("nt"))
          .select(col("query_id"), col("doc_id"),
            least(col("nt"), lit(3)).cast("int").as("rel"))
          .localCheckpoint()   // judged by all four arms
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id").isin(1L, 2L, 3L))
          .select(col("vec_id").as("query_id"),
            Similarity.asDouble(col("embedding")).as("qv"))
        // arm 1 — exact cosine over the full corpus
        val runCos = Similarity
          .cosineTopKBatch(emb, "vec_id", "embedding", qv, k = 10)
        // arm 2 — s20's PCA-projection-pruned serve at k=10
        val upper = LinAlg.gramQ(emb, "embedding").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
        val v = LinAlg.topEigenQ(upper, dim = 64, iters = 8)
        val proj = LinAlg.withProjQ(emb, "embedding", v)
          .localCheckpoint()
        val qp = proj.filter(col("vec_id").isin(1L, 2L, 3L))
          .select(col("vec_id").as("query_id"),
            col("proj_q").as("qproj"))
        val cand = proj
          .join(broadcast(qp), col("vec_id") =!= col("query_id"))
          .withColumn("crk", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(abs(col("proj_q") - col("qproj")).asc,
                col("vec_id").asc)))
          .filter(col("crk") <= 50)
          .select("query_id", "vec_id")
        val e = proj.select(col("vec_id"),
          Similarity.asDouble(col("embedding")).as("v"))
        val qvd = e.filter(col("vec_id").isin(1L, 2L, 3L))
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val runPca = e.join(broadcast(cand), "vec_id")
          .join(broadcast(qvd), "query_id")
          .select(col("query_id"), col("vec_id").as("doc_id"),
            round(Similarity.cosine(col("v"), col("qv")), 9)
              .as("cosine"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(col("cosine").desc, col("doc_id").asc)))
          .filter(col("rk") <= 10)
        // arm 3 — sign-bucket-pruned MaxSim (d106's scorer verbatim)
        val runMax = graft.operators.LateInteraction.maxSimTopKPruned(
          docs, "doc_id", "text", qArr, dim = 8, k = 10, bits = 6)
        // arm 5 — PLAID-complete two-stage serve (d139 verbatim:
        // pruned pass NOMINATES top-50, exact MaxSim reranks the
        // nominees — VERDICT r13 #3: the round-13 serving change now
        // runs under the same regression matrix it shipped beside)
        val runPlaid = graft.operators.LateInteraction.maxSimTopKPlaid(
          docs, "doc_id", "text", qArr, dim = 8, k = 10, bits = 6,
          c = 50)
        // arm 4 — hybrid RRF (d103's fusion verbatim)
        val lex = Retrieval.bm25TopK(posts, q,
          corpusStatsLocal(s, dir), k = 20)
        val sem = Similarity
          .cosineTopKBatch(emb, "vec_id", "embedding", qv, k = 20)
        val runRrf = Fusion.rrf(Seq(lex, sem), k = 10)
        // arm 6 — Dirichlet query likelihood (d144's scorer verbatim,
        // over the same checkpointed postings — VERDICT r16 #8: the
        // second probabilistic family joins the regression matrix)
        val runQl = Retrieval.qlDirichletTopK(posts, q, k = 10)
        // arm 7 — SDM (d147's scorer verbatim, over the same
        // checkpointed postings — VERDICT r17 #8: the proximity
        // family joins the regression matrix). Positions are
        // MATERIALIZED per sdmTopK's own contract (r18 review): the
        // frame feeds the pA/pB self-join plus both window families,
        // so raw lineage would re-tokenize the corpus several times
        // in one plan — the d100 FileScan-dedup lesson. The pin is
        // pre-filtered to the SDM query terms (round 19): sdmGather
        // keeps only query-term positions anyway, so filtering
        // before the checkpoint pins query-term rows instead of the
        // whole corpus positions stream — same one tokenize pass.
        val runSdm = Retrieval.sdmTopK(posts,
          Retrieval.positionalPostings(docs, "doc_id", "text")
            .filter(col("term")
              .isInCollection(SdmQueryTerms.map(_._3).distinct))
            .localCheckpoint(),
          SdmQueryTerms.toDF("query_id", "qpos", "term"), k = 10)
        Seq(("cosine", runCos), ("hybrid_rrf", runRrf),
          ("maxsim_plaid", runPlaid), ("maxsim_pruned", runMax),
          ("pca_pruned", runPca), ("ql_dirichlet", runQl),
          ("sdm", runSdm))
          .map { case (p, r) =>
            IrEval.evaluate(r, qrels, k = 10)
              .select(lit(p).as("path"),
                col("query_id").cast("long").as("query_id"),
                col("ndcg"), col("mrr"), col("recall"))
          }
          .reduce(_.unionByName(_))
          .orderBy("path", "query_id")
      },
      Some(Assembly.PcaChainSql + s""",
      |posts AS (SELECT doc_id, term, COUNT(*) AS tf,
      |    ANY_VALUE(dl) AS dl FROM (
      |    SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |           unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |qry(query_id, term) AS (VALUES $QuerySql),
      |qr AS (SELECT query_id, doc_id,
      |    LEAST(COUNT(DISTINCT term), 3) AS rel
      |  FROM posts JOIN qry USING (term)
      |  GROUP BY query_id, doc_id),
      |emb2 AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |qv2 AS (SELECT vec_id AS query_id, v AS qv FROM emb2
      |  WHERE vec_id IN (1, 2, 3)),
      |cosr AS (SELECT q.query_id, e.vec_id AS doc_id,
      |    round(list_reduce(list_transform(generate_series(1, len(v)),
      |        i -> v[i] * qv[i]), (a,b) -> a + b) /
      |      (sqrt(list_reduce(list_transform(v, x -> x * x),
      |        (a,b) -> a + b)) *
      |       sqrt(list_reduce(list_transform(qv, x -> x * x),
      |        (a,b) -> a + b))), 9) AS cosine
      |  FROM emb2 e, qv2 q WHERE e.vec_id <> q.query_id),
      |run_cos AS (SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY cosine DESC, doc_id ASC) AS rk
      |    FROM cosr) WHERE rk <= 10),
      |qp AS (SELECT vec_id AS query_id, proj_q AS qproj FROM pr
      |  WHERE vec_id IN (1, 2, 3)),
      |cand AS (SELECT query_id, vec_id FROM (
      |    SELECT qp.query_id, p.vec_id,
      |      row_number() OVER (PARTITION BY qp.query_id
      |        ORDER BY ABS(p.proj_q - qp.qproj) ASC, p.vec_id ASC)
      |        AS crk
      |    FROM pr p JOIN qp ON p.vec_id <> qp.query_id)
      |  WHERE crk <= 50),
      |run_pca AS (SELECT query_id, doc_id, rk FROM (
      |    SELECT c.query_id, c.vec_id AS doc_id,
      |      row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY cs.cosine DESC, c.vec_id ASC) AS rk
      |    FROM cand c JOIN cosr cs
      |      ON cs.query_id = c.query_id AND cs.doc_id = c.vec_id)
      |  WHERE rk <= 10),
      |mq(query_id, qterm) AS (VALUES $QuerySql),
      |mqv0 AS (SELECT query_id, qterm,
      |    list_transform(generate_series(1, 8), j ->
      |      (('0x' || substr(md5(j || '_' || qterm), 1, 15))::BIGINT
      |        % 1000) / 1000.0 - 0.5) AS qv
      |  FROM mq),
      |mqv AS (SELECT query_id, qterm, qv,
      |    CAST(list_sum(list_transform(generate_series(1, 6), i ->
      |      CASE WHEN qv[i] > 0 THEN (1::BIGINT << (i - 1))
      |           ELSE 0 END)) AS BIGINT) AS qb
      |  FROM mqv0),
      |mdt AS (SELECT DISTINCT doc_id, term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents)
      |  WHERE len(term) > 0),
      |mdv0 AS (SELECT doc_id, term,
      |    list_transform(generate_series(1, 8), j ->
      |      (('0x' || substr(md5(j || '_' || term), 1, 15))::BIGINT
      |        % 1000) / 1000.0 - 0.5) AS dv
      |  FROM mdt),
      |mdv AS (SELECT doc_id, term, dv,
      |    CAST(list_sum(list_transform(generate_series(1, 6), i ->
      |      CASE WHEN dv[i] > 0 THEN (1::BIGINT << (i - 1))
      |           ELSE 0 END)) AS BIGINT) AS db
      |  FROM mdv0),
      |mpairs AS (SELECT q.query_id, q.qterm, d.doc_id,
      |    round(list_reduce(list_transform(generate_series(1, 8),
      |        i -> qv[i] * dv[i]), (a, b) -> a + b), 9) AS dot
      |  FROM mdv d, mqv q WHERE bit_count(xor(d.db, q.qb)) <= 1),
      |mmx AS (SELECT query_id, qterm, doc_id, MAX(dot) AS mx
      |  FROM mpairs GROUP BY 1, 2, 3),
      |msc AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(mx AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM mmx GROUP BY 1, 2),
      |run_max AS (SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM msc) WHERE rk <= 10),
      |nomp AS (SELECT query_id, doc_id FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM msc) WHERE rk <= 50),
      |eppairs AS (SELECT n.query_id, q.qterm, n.doc_id,
      |    round(list_reduce(list_transform(generate_series(1, 8),
      |        i -> qv[i] * dv[i]), (a, b) -> a + b), 9) AS dot
      |  FROM nomp n
      |  JOIN mdv d ON d.doc_id = n.doc_id
      |  JOIN mqv q ON q.query_id = n.query_id),
      |epmx AS (SELECT query_id, qterm, doc_id, MAX(dot) AS mx
      |  FROM eppairs GROUP BY 1, 2, 3),
      |epsc AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(mx AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM epmx GROUP BY 1, 2),
      |run_plaid AS (SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM epsc) WHERE rk <= 10),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
      |      AS avgdl
      |  FROM documents),
      |slice AS (SELECT p.* FROM posts p
      |          WHERE term IN (SELECT DISTINCT term FROM qry)),
      |dfq AS (SELECT term, COUNT(*) AS df FROM slice GROUP BY term),
      |sc AS (SELECT q.query_id, s.doc_id,
      |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 9)
      |      AS contrib
      |  FROM slice s JOIN qry q USING (term) JOIN dfq USING (term),
      |       stats),
      |lexagg AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM sc GROUP BY query_id, doc_id),
      |lex AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id ASC) AS rk
      |  FROM lexagg QUALIFY rk <= 20),
      |sem AS (SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, doc_id ASC) AS rk
      |  FROM cosr QUALIFY rk <= 20),
      |u AS (
      |  SELECT query_id, doc_id, round(1.0 / (60 + rk), 9) AS contrib
      |  FROM lex
      |  UNION ALL
      |  SELECT query_id, doc_id, round(1.0 / (60 + rk), 9) FROM sem),
      |fused AS (SELECT query_id, doc_id,
      |    round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6)
      |      AS score
      |  FROM u GROUP BY query_id, doc_id),
      |run_rrf AS (SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM fused) WHERE rk <= 10),
      |${qlOracleCtes("ql")},
      |run_ql AS (SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM qlagg) WHERE rk <= 10),
      |${sdmOracleCtes("sd")},
      |run_sdm AS (SELECT query_id, doc_id, rk FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |        PARTITION BY query_id
      |        ORDER BY score DESC, doc_id ASC) AS rk
      |    FROM sdagg) WHERE rk <= 10),
      |runs AS (
      |  SELECT 'cosine' AS path, query_id, doc_id, rk FROM run_cos
      |  UNION ALL
      |  SELECT 'hybrid_rrf', query_id, doc_id, rk FROM run_rrf
      |  UNION ALL
      |  SELECT 'maxsim_plaid', query_id, doc_id, rk FROM run_plaid
      |  UNION ALL
      |  SELECT 'maxsim_pruned', query_id, doc_id, rk FROM run_max
      |  UNION ALL
      |  SELECT 'pca_pruned', query_id, doc_id, rk FROM run_pca
      |  UNION ALL
      |  SELECT 'ql_dirichlet', query_id, doc_id, rk FROM run_ql
      |  UNION ALL
      |  SELECT 'sdm', query_id, doc_id, rk FROM run_sdm),
      |hits AS (SELECT r.path, r.query_id, r.rk, q.rel
      |  FROM runs r LEFT JOIN qr q
      |    ON q.query_id = r.query_id AND q.doc_id = r.doc_id),
      |dcg AS (SELECT path, query_id,
      |    SUM(CAST(round((pow(2.0, COALESCE(rel, 0)) - 1.0) /
      |      (ln(rk + 1.0) / ln(2.0)), 9) AS DECIMAL(28,9))) AS dcg,
      |    MIN(CASE WHEN rel > 0 THEN rk END) AS first_rel,
      |    COUNT(CASE WHEN rel > 0 THEN 1 END) AS n_hit
      |  FROM hits GROUP BY path, query_id),
      |ideal AS (SELECT query_id,
      |    SUM(CASE WHEN irk <= 10 THEN
      |      CAST(round((pow(2.0, rel) - 1.0) /
      |        (ln(irk + 1.0) / ln(2.0)), 9) AS DECIMAL(28,9))
      |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS idcg,
      |    COUNT(*) AS n_rel
      |  FROM (SELECT query_id, rel, row_number() OVER (
      |      PARTITION BY query_id ORDER BY rel DESC, doc_id ASC)
      |      AS irk FROM qr)
      |  GROUP BY query_id)
      |SELECT d.path, CAST(d.query_id AS BIGINT) AS query_id,
      |  CASE WHEN CAST(idcg AS DOUBLE) > 0.0
      |    THEN round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
      |    ELSE 0.0 END AS ndcg,
      |  COALESCE(round(1.0 / first_rel, 6), 0.0) AS mrr,
      |  CASE WHEN n_rel > 0
      |    THEN round(CAST(n_hit AS DOUBLE) / n_rel, 6)
      |    ELSE 0.0 END AS recall
      |FROM dcg d JOIN ideal USING (query_id)
      |ORDER BY path, query_id""".stripMargin))
  )
}
