package graft
package queries

import graft.ext.{Dedup, KMeans, ProductQuantization, Similarity}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Support._

/** Vector and lexical retrieval: exact and approximate top-k,
  * quantization, clustering, inverted indexes. */
object RetrievalQueries {

  /** DuckDB replica of the hyperplane-LSH near-dup pipeline (candidates +
    * exact cosine verify), shared by the q35 and q42 oracles. The seeded
    * planes are embedded as literals. */
  private lazy val embeddingLshOracleBody: String = {
    val branches = Dedup.hyperplanes().zipWithIndex.map { case (tbl, ti) =>
      val bucket = tbl.zipWithIndex.map { case (p, pi) =>
        s"(CASE WHEN list_inner_product(e, ${p.mkString("[", ", ", "]")}) >= 0 THEN ${1L << pi} ELSE 0 END)"
      }.mkString(" + ")
      s"  SELECT vec_id, $ti AS t, $bucket AS bk FROM v"
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |b AS (
       |$branches),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM b x JOIN b y ON x.t = y.t AND x.bk = y.bk AND x.vec_id < y.vec_id)
       |SELECT id_a, id_b
       |FROM cand JOIN v p ON p.vec_id = id_a JOIN v q ON q.vec_id = id_b
       |WHERE list_cosine_similarity(p.e, q.e) >= 0.45""".stripMargin
  }

  /** DuckDB CTE chain replaying [[graft.ext.KMeans.assign]] exactly:
    * quantize → md5 seeds → `iters` assign/update rounds → final
    * assignment `fin(vec_id, q, cid, dist)`. Generated per-iteration —
    * the unrolled chain IS the spec of the fixed iteration count. */
  private def kmeansCtes(k: Int, iters: Int): String = {
    def distExpr(c: String): String =
      s"16384*list_inner_product(z.q,z.q) - 256*list_inner_product(z.q,$c.c)" +
        s" + list_inner_product($c.c,$c.c)"
    val head =
      s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |s AS (SELECT vec_id, e,
         |  greatest(list_max(list_transform(e, x -> abs(x))),
         |           2.2250738585072014e-308) AS sc FROM v),
         |qz AS (SELECT vec_id,
         |  list_transform(e, x -> floor(x * 127.0 / sc + 0.5)) AS q FROM s),
         |seeds AS (SELECT q, CAST(row_number() OVER (
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS cid
         |  FROM qz ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
         |c0 AS (SELECT cid, list_transform(q, x -> x * 128.0) AS c FROM seeds)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""a$t AS (SELECT vec_id, q, cid FROM (
         |  SELECT z.vec_id, z.q, c.cid, row_number() OVER (
         |    PARTITION BY z.vec_id ORDER BY ${distExpr("c")}, c.cid) AS rk
         |  FROM qz z, c${t - 1} c) t WHERE rk = 1),
         |cr$t AS (SELECT a.cid, r.d, CAST(SUM(a.q[r.d]) AS BIGINT) AS sm,
         |    COUNT(*) AS n
         |  FROM a$t a, (SELECT CAST(range AS INT) + 1 AS d FROM range(64)) r
         |  GROUP BY a.cid, r.d),
         |c$t AS (SELECT p.cid, COALESCE(u.c, p.c) AS c FROM c${t - 1} p
         |  LEFT JOIN (SELECT cid,
         |      list(CAST(floor((sm*256.0 + n)/(2*n)) AS DOUBLE) ORDER BY d) AS c
         |    FROM cr$t GROUP BY cid) u ON p.cid = u.cid)""".stripMargin
    }
    val fin =
      s"""fin AS (SELECT vec_id, q, cid, CAST(dist AS BIGINT) AS dist FROM (
         |  SELECT z.vec_id, z.q, c.cid, ${distExpr("c")} AS dist,
         |    row_number() OVER (
         |      PARTITION BY z.vec_id ORDER BY ${distExpr("c")}, c.cid) AS rk
         |  FROM qz z, c$iters c) t WHERE rk = 1)""".stripMargin
    (head +: rounds :+ fin).mkString(",\n")
  }

  /** DuckDB CTE chain replaying [[graft.ext.ProductQuantization.topK]]
    * exactly: one full-vector int8 quantization (per-vector scale — the
    * same `qz` as [[kmeansCtes]]), then per subspace `s` the slice
    * `z$s`, md5 seeds, `iters` integer-Lloyd rounds, final code
    * assignment `f$s`, the query row's slice `qv$s` and its exact ADC
    * table `t$s`; `scs(vec_id, pq_dist)` sums the per-subspace lookups.
    */
  private def pqCtes(m: Int, ksub: Int, iters: Int, dim: Int,
      qid: Long): String = {
    require(dim % m == 0)
    val subdim = dim / m
    def distExpr(z: String, c: String): String =
      s"16384*list_inner_product($z.q,$z.q) - " +
        s"256*list_inner_product($z.q,$c.c) + list_inner_product($c.c,$c.c)"
    val head =
      s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |s AS (SELECT vec_id, e,
         |  greatest(list_max(list_transform(e, x -> abs(x))),
         |           2.2250738585072014e-308) AS sc FROM v),
         |qz AS (SELECT vec_id,
         |  list_transform(e, x -> floor(x * 127.0 / sc + 0.5)) AS q FROM s)""".stripMargin
    val subs = (0 until m).map { sub =>
      val lo = sub * subdim + 1
      val hi = (sub + 1) * subdim
      val train = (1 to iters).map { t =>
        s"""a${sub}_$t AS (SELECT vec_id, q, cid FROM (
           |  SELECT z.vec_id, z.q, c.cid, row_number() OVER (
           |    PARTITION BY z.vec_id ORDER BY ${distExpr("z", "c")}, c.cid) AS rk
           |  FROM z$sub z, c${sub}_${t - 1} c) t WHERE rk = 1),
           |cr${sub}_$t AS (SELECT a.cid, r.d, CAST(SUM(a.q[r.d]) AS BIGINT) AS sm,
           |    COUNT(*) AS n
           |  FROM a${sub}_$t a,
           |    (SELECT CAST(range AS INT) + 1 AS d FROM range($subdim)) r
           |  GROUP BY a.cid, r.d),
           |c${sub}_$t AS (SELECT p.cid, COALESCE(u.c, p.c) AS c FROM c${sub}_${t - 1} p
           |  LEFT JOIN (SELECT cid,
           |      list(CAST(floor((sm*256.0 + n)/(2*n)) AS DOUBLE) ORDER BY d) AS c
           |    FROM cr${sub}_$t GROUP BY cid) u ON p.cid = u.cid)""".stripMargin
      }
      (Seq(
        s"""z$sub AS (SELECT vec_id, q[$lo:$hi] AS q FROM qz),
           |sd$sub AS (SELECT q, CAST(row_number() OVER (
           |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS cid
           |  FROM z$sub ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ksub),
           |c${sub}_0 AS (SELECT cid, list_transform(q, x -> x * 128.0) AS c FROM sd$sub)""".stripMargin
      ) ++ train ++ Seq(
        s"""f$sub AS (SELECT vec_id, cid FROM (
           |  SELECT z.vec_id, c.cid, row_number() OVER (
           |    PARTITION BY z.vec_id ORDER BY ${distExpr("z", "c")}, c.cid) AS rk
           |  FROM z$sub z, c${sub}_$iters c) t WHERE rk = 1),
           |qv$sub AS (SELECT q FROM z$sub WHERE vec_id = $qid),
           |t$sub AS (SELECT c.cid,
           |    CAST(${distExpr("z", "c")} AS BIGINT) AS d
           |  FROM c${sub}_$iters c, qv$sub z)""".stripMargin
      )).mkString(",\n")
    }
    val score =
      s"""scs AS (SELECT f0.vec_id,
         |  ${(0 until m).map(s => s"t$s.d").mkString(" + ")} AS pq_dist
         |  FROM ${(0 until m).map(s => s"f$s").mkString(", ")},
         |    ${(0 until m).map(s => s"t$s").mkString(", ")}
         |  WHERE ${(1 until m).map(s => s"f0.vec_id = f$s.vec_id").mkString(" AND ")}
         |    AND ${(0 until m).map(s => s"f$s.cid = t$s.cid").mkString(" AND ")})""".stripMargin
    (head +: subs :+ score).mkString(",\n")
  }

  val all: Seq[Query] = Seq(
    // ext: embedding-cosine near-dup, exact (the LSH-accelerated variant is
    // q35). Ids only — cosine internals differ across engines at ulp level.
    Query("q34_embedding_neardup", Family.Retrieval, (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val v = transform(col("embedding"), x => x.cast("double"))
      val a = e.select(col("vec_id").as("id_a"), v.as("__va"))
      val b = e.select(col("vec_id").as("id_b"), v.as("__vb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(Similarity.cosine(col("__va"), col("__vb")) >= 0.45)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin),

    // ext: hyperplane-LSH-accelerated embedding near-dup (approximate
    // candidates, exact verify) — rows-only driver check; ExtSpec asserts
    // ⊆ q34.
    Query("q35_embedding_neardup_lsh", Family.Retrieval, (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", threshold = 0.45)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
      // Replica of the hyperplane-LSH bucketing with the SAME seeded planes
      // embedded as literals (Dedup.hyperplanes rounds to 6 decimals so the
      // literals parse to bit-identical doubles), then exact cosine verify.
      s"""$embeddingLshOracleBody
         |ORDER BY id_a, id_b""".stripMargin),

    // ext: brute-force cosine top-k similarity search (ANN baseline).
    Query("q36_similarity_topk", Family.Retrieval, (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 100 === 0)
      Similarity.bruteForceTopK(e, queries, k = 10)
        .select(col("query_id"), col("rk"), col("vec_id"))
        .orderBy(col("query_id"), col("rk"))
    }, oracleSql =
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings)
        |SELECT query_id, rk, vec_id FROM (
        |  SELECT q.qid AS query_id, c.vec_id,
        |    CAST(row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(qv, cv) DESC, c.vec_id) AS BIGINT) AS rk
        |  FROM q, c WHERE c.vec_id <> q.qid) t
        |WHERE rk <= 10
        |ORDER BY query_id, rk""".stripMargin),

    // ext: IVF ANN end-to-end with an in-query recall gate vs the exact
    // baseline (IVF candidates are data-dependent, so the driver anchors
    // on query count + the recall invariant rather than the pair set).
    // The gate runs on a deterministic md5-ordered sample of ≤64 queries:
    // recall is a per-query average, so a fixed sample estimates it
    // without the exact baseline's O(N·Q) growing with the query count —
    // at sf10 the all-queries gate cost 580 s of brute force; the sampled
    // gate is O(N·64). orderBy+limit compiles to TakeOrderedAndProject
    // (no global sort / single-partition window).
    Query("q56_ivf_ann_recall", Family.Retrieval, (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 100 === 0)
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(64)
      val exact = Similarity.bruteForceTopK(e, queries, k = 5)
        .select(col("query_id"), col("vec_id"))
      val approx = Similarity.ivfTopK(e, queries, k = 5, nlist = 8, nprobe = 4)
        .select(col("query_id"), col("vec_id"))
      val stats = exact.agg(count(lit(1)).as("n_exact"),
        countDistinct(col("query_id")).as("n_queries"))
      val hits = exact.join(approx, Seq("query_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      stats.crossJoin(hits)
        .select(col("n_queries"),
          (col("n_hits").cast("double") / col("n_exact") >= 0.4).as("recall_ok"))
    }, oracleSql =
      // Same ≤64-query md5-ordered gate sample as the Spark side.
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        | CAST(TRUE AS BOOLEAN) AS recall_ok
        |FROM (
        |  SELECT vec_id, row_number() OVER (
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM embeddings WHERE vec_id % 100 = 0) t
        |WHERE rn <= 64""".stripMargin),

    // ext: the native vector expressions exposed through plain SQL text —
    // proves the SparkSessionExtensions / FunctionRegistry surface.
    Query("q42_vector_sql", Family.Retrieval, (s, dir) => {
      graft.functions.VectorFunctions.registerSql(s)
      Tables.registerAll(s, dir)
      val e = Tables.load(s, dir, "embeddings")
      // LSH candidates bound the pair space (same buckets as q35); the
      // native codegen'd vector_cosine SQL function verifies only those —
      // the 100 TB shape, not a cartesian product.
      // Weighted rep-level candidates: cosine is verified once per unique
      // vector pair and each row counts for all its exact-duplicate member
      // pairs — the duplicate-heavy 100 TB shape (an expanded member-pair
      // list re-verifies k² identical cosines per duplicated pair).
      val view = s"q42cand${System.nanoTime()}"
      Dedup.embeddingLshCandidatesWeighted(e, "vec_id", "embedding")
        .createOrReplaceTempView(view)
      s.sql(
        s"""SELECT CAST(SUM(c.weight) AS BIGINT) AS n_neardup_pairs
           |FROM $view c
           |JOIN embeddings a ON a.vec_id = c.id_a
           |JOIN embeddings b ON b.vec_id = c.id_b
           |WHERE vector_cosine(CAST(a.embedding AS ARRAY<DOUBLE>),
           |                    CAST(b.embedding AS ARRAY<DOUBLE>)) >= 0.45""".stripMargin)
    }, oracleSql =
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs
         |FROM ($embeddingLshOracleBody) pairs""".stripMargin),

    // ext: int8-quantized ANN — top-k in the compressed domain (cosine is
    // scale-invariant, so ranking needs only the int8 codes; the corpus
    // side streams 4× fewer bytes than float32). The oracle re-derives
    // the identical integer codes and ranking; recall vs the float top-k
    // is reported alongside (exact integers, not a float compare).
    Query("q82_quantized_topk", Family.Retrieval, (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 100 === 0)
      val qtop = Similarity.quantizedTopK(e, queries, k = 10)
        .select(col("query_id"), col("rk"), col("vec_id"))
      val ftop = Similarity.bruteForceTopK(e, queries, k = 10)
        .select(col("query_id"), col("vec_id").as("__fv"))
      // recall@10 numerator per query: |quantized ∩ float| (exact ints)
      val hits = qtop.join(ftop,
          qtop("query_id") === ftop("query_id") && qtop("vec_id") === ftop("__fv"))
        .groupBy(qtop("query_id").as("qid"))
        .agg(count(lit(1)).as("n_hits"))
      qtop.join(hits, qtop("query_id") === hits("qid"), "left")
        .select(col("query_id"), col("rk"), col("vec_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy(col("query_id"), col("rk"))
    }, oracleSql =
      // Bit-identical replay of the int8 quantization (floor round-half-up,
      // same MIN_NORMAL guard), integer-dot cosine ranking, and float-top-k
      // recall join.
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |        greatest(list_max(list_transform(e, x -> abs(x))),
        |                 2.2250738585072014e-308) AS sc
        |      FROM v),
        |qz AS (SELECT vec_id, list_transform(e, x -> floor(x * 127.0 / sc + 0.5)) AS c
        |       FROM s),
        |qq AS (SELECT vec_id AS qid, c AS qc FROM qz WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT qq.qid AS query_id, qz.vec_id,
        |    CASE WHEN list_inner_product(qq.qc, qq.qc) = 0
        |           OR list_inner_product(qz.c, qz.c) = 0 THEN -2.0
        |         ELSE list_inner_product(qq.qc, qz.c)
        |           / (sqrt(list_inner_product(qq.qc, qq.qc))
        |              * sqrt(list_inner_product(qz.c, qz.c)))
        |    END AS qsim
        |  FROM qq, qz WHERE qz.vec_id <> qq.qid),
        |qtop AS (
        |  SELECT query_id, rk, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      CAST(row_number() OVER (PARTITION BY query_id
        |        ORDER BY qsim DESC, vec_id) AS BIGINT) AS rk
        |    FROM scored) t WHERE rk <= 10),
        |ftop AS (
        |  SELECT qid AS query_id, vec_id FROM (
        |    SELECT q.vec_id AS qid, c.vec_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.vec_id) AS rk
        |    FROM (SELECT * FROM v WHERE vec_id % 100 = 0) q, v c
        |    WHERE c.vec_id <> q.vec_id) t WHERE rk <= 10),
        |hits AS (SELECT qtop.query_id AS hq, COUNT(*) AS n_hits
        |         FROM qtop JOIN ftop ON qtop.query_id = ftop.query_id
        |                            AND qtop.vec_id = ftop.vec_id
        |         GROUP BY qtop.query_id)
        |SELECT query_id, rk, vec_id,
        |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits
        |FROM qtop LEFT JOIN hits ON query_id = hq
        |ORDER BY query_id, rk""".stripMargin),

    // ext: portable k-means over the embedding corpus — fixed-point
    // integer centroids (scale 128, round-half-up) over int8-quantized
    // codes, so assignment distances and argmins are EXACT in both int64
    // and float64 and the oracle replays the full 4-iteration run
    // bit-identically. Per iteration: one scan of the checkpointed codes,
    // assignment as a pure projection against literal centroids (no join,
    // no shuffle), one partial-aggregated k×dim shuffle. The clustering
    // stage of SemDeDup and of cluster-balanced data mixing.
    Query("q98_kmeans", Family.Retrieval, (s, dir) =>
      KMeans.assign(Tables.load(s, dir, "embeddings"), k = 8, iters = 4), oracleSql =
      // Bit-identical replay of the portable k-means: same int8 codes, same
      // md5-ordered seeds, fixed-point centroids floor((S·256+n)/(2n)), and
      // the same exact distance 16384·q·q − 256·q·c + c·c — every term
      // < 2^53, so double arithmetic is exact on both engines.
      s"""WITH ${kmeansCtes(8, 4)}
         |SELECT vec_id, CAST(cid AS INT) AS cluster, dist FROM fin""".stripMargin),

    // ext: SemDeDup — semantic near-duplicate removal: all-pairs
    // quantized-cosine ONLY within each k-means cluster (the cluster step
    // bounds the quadratic term; k grows with the corpus), exact integer
    // threshold test, drop every doc with a smaller-id near-twin.
    Query("q99_semdedup", Family.Retrieval, (s, dir) =>
      KMeans.semDedup(Tables.load(s, dir, "embeddings"),
        k = 8, iters = 4, thrPct = 90), oracleSql =
      // SemDeDup on the final assignment: within-cluster pairs under the
      // exact integer cosine² threshold (thr = 90% → 10⁴·dot² ≥ 8100·na·nb).
      s"""WITH ${kmeansCtes(8, 4)},
         |base AS (SELECT f.vec_id, f.cid AS cluster, f.q,
         |           list_inner_product(f.q, f.q) AS nn FROM fin f),
         |dup AS (SELECT DISTINCT b.vec_id AS dupid
         |  FROM base a JOIN base b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE list_inner_product(a.q, b.q) > 0
         |    AND 10000 * CAST(list_inner_product(a.q, b.q)
         |                     * list_inner_product(a.q, b.q) AS BIGINT)
         |        >= 8100 * CAST(a.nn * b.nn AS BIGINT))
         |SELECT vec_id, CAST(cluster AS INT) AS cluster,
         |  (dupid IS NOT NULL) AS is_dup
         |FROM base LEFT JOIN dup ON vec_id = dupid""".stripMargin),

    // pipeline: inverted-index search — build the index as a TABLE
    // stored write-ordered by token (term lookups become manifest-level
    // file skips), then conjunctive top-k by summed term frequency. The
    // corpus-wide cost is one explode + one hash agg; a query touches
    // only the index files holding its terms' postings.
    Query("q116_inverted_search", Family.Retrieval, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val store = Scratch.store(s)
      val idx = graft.ext.Search.buildIndex(docs, "doc_id", "text")
      store.commit("idx", idx.repartitionByRange(4, col("token"))
        .sortWithinPartitions(col("token")), "create")
      val hits = graft.ext.Search.searchAll(store.read("idx"), "doc_id",
        Seq("table", "query"), k = 10)
      hits.orderBy(col("score").desc, col("doc_id"))
    }, oracleSql =
      // Same tokenizer, same conjunctive-AND + tf-sum scoring, same
      // (score desc, doc_id) total order.
      raw"""WITH idx AS (
           |  SELECT doc_id, tok AS token, CAST(COUNT(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id,
           |          unnest(list_filter(string_split_regex(lower(text), '\W+'),
           |            x -> x <> '')) AS tok
           |        FROM documents) t
           |  GROUP BY doc_id, tok)
           |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS score
           |FROM idx WHERE token IN ('table', 'query')
           |GROUP BY doc_id
           |HAVING COUNT(DISTINCT token) = 2
           |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    // JL signed random projection (64 → 16 dims) ahead of ANN/clustering:
    // deterministic ±1 matrix from md5 parity over int8-quantized codes,
    // exact integer sums — the oracle re-derives the MATRIX and the
    // projections bit-for-bit. One pure projection pass, no shuffle.
    Query("q121_random_projection", Family.Retrieval, (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      graft.ext.Projection.signedProject(e, "vec_id", "embedding", 64, 16)
        .select(col("vec_id"),
          // unrolled over the FIXED 16 output dims (codegen arithmetic;
          // an aggregate() HOF here would re-introduce the interpreted
          // per-element lambda this query exists to avoid)
          (1 to 16).map(j => element_at(col("proj"), j) * j)
            .reduce(_ + _).as("proj_checksum"),
          (1 to 16).map(j => abs(element_at(col("proj"), j)))
            .reduce(_ + _).as("proj_l1"))
        .orderBy(col("vec_id")).limit(20)
    }, oracleSql =
      // Re-derives the q82 int8 codes, the md5-parity sign matrix, and the
      // integer projections — bit-identical to Projection.signedProject.
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |s AS (SELECT vec_id, e,
        |    greatest(list_max(list_transform(e, x -> abs(x))),
        |             2.2250738585072014e-308) AS sc FROM v),
        |qz AS (SELECT vec_id,
        |    list_transform(e, x -> CAST(floor(x * 127.0 / sc + 0.5) AS BIGINT)) AS c
        |  FROM s),
        |grid AS (SELECT a.j, b.i,
        |    CASE WHEN (('0x' || substr(md5(a.j::VARCHAR || '_' || b.i::VARCHAR),
        |      1, 1))::INT % 2) = 0 THEN 1 ELSE -1 END AS sg
        |  FROM range(1, 17) a(j), range(1, 65) b(i)),
        |qv AS (SELECT vec_id, t.i, c[t.i] AS q
        |  FROM qz, range(1, 65) t(i)),
        |o AS (SELECT vec_id, j, SUM(q * sg) AS p
        |  FROM qv JOIN grid USING (i) GROUP BY vec_id, j)
        |SELECT vec_id, CAST(SUM(p * j) AS BIGINT) AS proj_checksum,
        |  CAST(SUM(abs(p)) AS BIGINT) AS proj_l1
        |FROM o GROUP BY vec_id
        |ORDER BY vec_id LIMIT 20""".stripMargin),

    // ext+format: PERSISTENT IVF ANN index — build once (portable k-means
    // assignment + int8 codes persisted as a table PARTITIONED BY the
    // inverted-list id, centroids as a k-row table), then the query path
    // touches ONLY the persisted tables: rank centroids per query (pure
    // projection against the k collected centroids — bounded metadata),
    // read just the probed partitions (manifest-level file pruning — the
    // scan cost is nprobe/nlist of the corpus at ANY size), score in the
    // compressed int8 domain, top-10. The overlap columns measure probe
    // loss vs the full quantized brute force; files_pruned asserts every
    // probed read skipped files.
    Query("q128_persistent_ivf", Family.Retrieval, (s, dir) => {
      import s.implicits._
      val store = Scratch.store(s)
      val emb = Tables.load(s, dir, "embeddings")
        .filter(col("embedding").isNotNull)
      val (assigned, cents) =
        KMeans.assignWithCentroids(emb, k = 8, iters = 4)
      val codes = Similarity.quantizeInt8(emb, "vec_id", "embedding")
        .select(col("vec_id"), col("codes"))
      store.commitPartitioned("ann_corpus",
        codes.join(assigned.select(col("vec_id"), col("cluster")), "vec_id"),
        Seq("cluster"), "create")
      store.commit("ann_centroids",
        cents.map(c => (c.cid, c.c.toSeq)).toDF("cid", "cent"), "create")
      // query path — persisted tables only
      val centsBack = store.read("ann_centroids").collect()
        .map(r => KMeans.Centroid(r.getInt(0), r.getSeq[Long](1).toArray))
        .sortBy(_.cid).toSeq
      val queries = emb.filter(col("vec_id") % 100 === 0)
      val qCodes = Similarity.quantizeInt8(queries, "vec_id", "embedding")
        .select(col("vec_id").as("query_id"),
          transform(col("codes"), x => x.cast("double")).as("__q"))
      val probes = KMeans.probe(qCodes, centsBack, nprobe = 2, "__q")
      val probed = probes.select("cluster").distinct()
        .collect().map(_.getInt(0)).sorted
      val totalFiles =
        store.manifests("ann_corpus").maxBy(_.version).files.size
      val pruned = probed.forall(c =>
        store.prunedFileCount("ann_corpus", "cluster", c, c)._1 < totalFiles)
      val corpusRead = probed.map(c =>
          store.readWhere("ann_corpus", "cluster", c, c))
        .reduce(_ unionByName _)
        .select(col("cluster"), col("vec_id"),
          transform(col("codes"), x => x.cast("double")).as("__c"))
      val scored = probes.join(corpusRead, "cluster")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("__dq", Similarity.dot(col("__q"), col("__c")))
        .withColumn("__nq", Similarity.dot(col("__q"), col("__q")))
        .withColumn("__nc", Similarity.dot(col("__c"), col("__c")))
        .withColumn("qsim",
          when(col("__nq") === 0.0 || col("__nc") === 0.0, lit(-2.0))
            .otherwise(col("__dq") / (sqrt(col("__nq")) * sqrt(col("__nc")))))
      val wI = Window.partitionBy(col("query_id"))
        .orderBy(col("qsim").desc, col("vec_id"))
      val itop = scored.withColumn("rk", row_number().over(wI))
        .filter(col("rk") <= 10).select(col("query_id"), col("vec_id"))
      val btop = Similarity.quantizedTopK(emb, queries, 10)
        .select(col("query_id"), col("vec_id"))
      val ov = itop.join(btop, Seq("query_id", "vec_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("o"))
      qCodes.select(col("query_id")).distinct()
        .join(ov, Seq("query_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          sum(coalesce(col("o"), lit(0L))).as("overlap_sum"),
          min(coalesce(col("o"), lit(0L))).as("overlap_min"))
        .withColumn("files_pruned", lit(pruned))
    }, oracleSql =
      // Full IVF replay on top of the k-means chain: probe ranking by the
      // same fixed-point distance against the final centroids (c4),
      // candidates = the probed clusters' members, quantized-domain cosine
      // top-10, overlap vs the quantized brute force.
      s"""WITH ${kmeansCtes(8, 4)},
         |qq2 AS (SELECT vec_id AS qid, q AS qc FROM qz WHERE vec_id % 100 = 0),
         |probe AS (SELECT qid, cid FROM (
         |    SELECT qq2.qid, c.cid, row_number() OVER (PARTITION BY qq2.qid
         |      ORDER BY 16384*list_inner_product(qq2.qc,qq2.qc)
         |        - 256*list_inner_product(qq2.qc,c.c)
         |        + list_inner_product(c.c,c.c), c.cid) AS rk
         |    FROM qq2, c4 c) t WHERE rk <= 2),
         |cand AS (SELECT p.qid, f.vec_id, qq2.qc, f.q AS cc
         |  FROM probe p JOIN fin f ON f.cid = p.cid
         |  JOIN qq2 ON qq2.qid = p.qid
         |  WHERE f.vec_id <> p.qid),
         |sc2 AS (SELECT qid, vec_id,
         |    CASE WHEN list_inner_product(qc,qc) = 0
         |           OR list_inner_product(cc,cc) = 0 THEN -2.0
         |         ELSE list_inner_product(qc,cc)
         |           / (sqrt(list_inner_product(qc,qc))
         |              * sqrt(list_inner_product(cc,cc))) END AS qsim
         |  FROM cand),
         |itop AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY qsim DESC, vec_id) AS rk FROM sc2) t WHERE rk <= 10),
         |btop AS (SELECT qid, vec_id FROM (
         |    SELECT qq2.qid, z.vec_id, row_number() OVER (PARTITION BY qq2.qid
         |      ORDER BY CASE WHEN list_inner_product(qq2.qc,qq2.qc) = 0
         |          OR list_inner_product(z.q,z.q) = 0 THEN -2.0
         |        ELSE list_inner_product(qq2.qc,z.q)
         |          / (sqrt(list_inner_product(qq2.qc,qq2.qc))
         |             * sqrt(list_inner_product(z.q,z.q))) END DESC,
         |        z.vec_id) AS rk
         |    FROM qq2, qz z WHERE z.vec_id <> qq2.qid) t WHERE rk <= 10),
         |ov AS (SELECT i.qid, COUNT(*) AS o FROM itop i JOIN btop b
         |    ON i.qid = b.qid AND i.vec_id = b.vec_id GROUP BY i.qid)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(COALESCE(o.o, 0)) AS BIGINT) AS overlap_sum,
         |  CAST(MIN(COALESCE(o.o, 0)) AS BIGINT) AS overlap_min,
         |  true AS files_pruned
         |FROM (SELECT DISTINCT qid FROM qq2) q LEFT JOIN ov o USING (qid)""".stripMargin),

    // ext+format: incremental inverted-index maintenance — the
    // NON-aggregate derived-table counterpart of the q115 matview. The
    // index is a token-clustered TABLE with a standing write order;
    // each refresh builds postings from the metadata-planned source
    // delta and APPENDS them (new docs' postings are disjoint rows — no
    // fold), O(delta) at any index size. The checksum pins the final
    // index bit-for-bit against a from-scratch build; both_incremental
    // asserts no refresh fell back to a full rebuild.
    Query("q132_incremental_index", Family.Retrieval, (s, dir) => {
      val store = Scratch.store(s)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), (col("doc_id") % 3).as("b"))
      store.commit("corpus", docs.filter(col("b") === 0).drop("b"), "create")
      graft.ext.Search.createIndexTable(store, "corpus", "idx",
        "doc_id", "text")
      store.append("corpus", docs.filter(col("b") === 1).drop("b"))
      val (_, _, m1) = graft.ext.Search.refreshIndex(store, "corpus", "idx",
        "doc_id", "text")
      store.append("corpus", docs.filter(col("b") === 2).drop("b"))
      val (_, _, m2) = graft.ext.Search.refreshIndex(store, "corpus", "idx",
        "doc_id", "text")
      val idx = store.read("idx")
      val chk = idx.agg(count(lit(1)).as("n_postings"),
        sum(conv(substring(md5(concat_ws(":", col("token"), col("doc_id"),
            col("tf"))), 1, 12), 16, 10).cast("long") % 1000000)
          .as("index_checksum"))
      graft.ext.Search.searchAll(idx, "doc_id", Seq("spark", "table"), 10)
        .crossJoin(chk)
        .withColumn("both_incremental",
          lit(m1 == "incremental" && m2 == "incremental"))
        .orderBy(col("score").desc, col("doc_id"))
    }, oracleSql =
      // From-scratch index over ALL docs — equality (checksum + search
      // results) proves the incremental appends reconstructed it exactly.
      raw"""WITH tk AS (SELECT doc_id, unnest(list_filter(
           |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS token
           |  FROM documents),
           |idx AS (SELECT token, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
           |chk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_postings,
           |  CAST(SUM(('0x' || substr(md5(token || ':'
           |      || CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR)),
           |    1, 12))::BIGINT % 1000000) AS BIGINT) AS index_checksum
           |  FROM idx),
           |hits AS (SELECT doc_id, COUNT(DISTINCT token) AS nt,
           |    SUM(tf) AS score
           |  FROM idx WHERE token IN ('spark', 'table') GROUP BY doc_id),
           |top AS (SELECT doc_id, CAST(score AS BIGINT) AS score FROM hits
           |  WHERE nt = 2 ORDER BY score DESC, doc_id LIMIT 10)
           |SELECT t.doc_id, t.score, c.n_postings, c.index_checksum,
           |  true AS both_incremental
           |FROM top t, chk c ORDER BY t.score DESC, t.doc_id""".stripMargin),

    // Disjunctive BM25-style relevance top-k over the inverted index —
    // rational-idf variant (ln replaced by its exact rational argument;
    // libm ln is not correctly rounded across engines, IEEE +,*,/ are),
    // every double op in one pinned association order and per-term
    // partials summed in literal term order, so the DuckDB oracle
    // replays scores BIT-FOR-BIT (the fixed-point-kmeans portability
    // trick applied to ranking).
    Query("q135_bm25_search", Family.Retrieval, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val idx = graft.ext.Search.buildIndex(docs, "doc_id", "text")
      graft.ext.Search.bm25TopK(idx, "doc_id",
        Seq("spark", "table", "data"), 15)
    }, oracleSql =
      // Same pinned-association arithmetic as the Spark side: idf =
      // ((n-df)+0.5)/(df+0.5); term = idf * (tf*(1.2+1.0)) /
      // (tf + 1.2*((1.0-0.75) + 0.75*(dl/avgdl))); score = p0+p1+p2 in
      // literal term order. Bit-identical doubles.
      raw"""WITH tk AS (SELECT doc_id, unnest(list_filter(
           |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS token
           |  FROM documents),
           |idx AS (SELECT token, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
           |dl AS (SELECT doc_id, SUM(tf) AS dl FROM idx GROUP BY doc_id),
           |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
           |dft AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM idx
           |  WHERE token IN ('spark', 'table', 'data') GROUP BY token),
           |s AS (SELECT i.doc_id, i.token,
           |  (((CAST(c.n AS DOUBLE) - CAST(d.df AS DOUBLE)) + 0.5)
           |     / (CAST(d.df AS DOUBLE) + 0.5))
           |    * (CAST(i.tf AS DOUBLE) * (1.2 + 1.0))
           |    / (CAST(i.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
           |        (CAST(l.dl AS DOUBLE)
           |          / (CAST(c.tot AS DOUBLE) / CAST(c.n AS DOUBLE))))) AS sc
           |  FROM idx i JOIN dft d USING (token) JOIN dl l USING (doc_id), c
           |  WHERE i.token IN ('spark', 'table', 'data')),
           |p AS (SELECT doc_id,
           |  SUM(CASE WHEN token = 'spark' THEN sc END) AS p0,
           |  SUM(CASE WHEN token = 'table' THEN sc END) AS p1,
           |  SUM(CASE WHEN token = 'data' THEN sc END) AS p2
           |  FROM s GROUP BY doc_id)
           |SELECT p.doc_id,
           |  coalesce(p0, 0.0) + coalesce(p1, 0.0) + coalesce(p2, 0.0) AS score,
           |  CAST(l.dl AS BIGINT) AS doc_len
           |FROM p JOIN dl l USING (doc_id)
           |ORDER BY score DESC, p.doc_id LIMIT 15""".stripMargin),

    // Hybrid retrieval: reciprocal-rank fusion of the lexical arm (q135's
    // BM25 top-k over the inverted index) and the vector arm (q36's exact
    // cosine top-k for one query embedding) — the standard RAG-ingestion
    // shape where score scales aren't comparable, so each arm contributes
    // 1/(60+rank) and ranks (integers) carry ALL the cross-engine
    // determinism: one IEEE division per arm summed in literal arm order,
    // so the oracle replays fused scores bit-for-bit. The arms keep their
    // own scale paths (postings file-skip; broadcast query × corpus scan);
    // fusion itself joins two ≤50-row lists.
    Query("q138_hybrid_retrieval", Family.Retrieval, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val e = Tables.load(s, dir, "embeddings")
      val idx = graft.ext.Search.buildIndex(docs, "doc_id", "text")
      // rank windows run on the already-top-50 arms — bounded frames
      val wT = Window.orderBy(col("score").desc, col("doc_id"))
      val text = graft.ext.Search
        .bm25TopK(idx, "doc_id", Seq("spark", "table", "data"), 50)
        .withColumn("rank", row_number().over(wT).cast("long"))
        .select(col("doc_id"), col("rank"))
      val vec = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 50)
        .select(col("vec_id").as("doc_id"), col("rk").as("rank"))
      graft.ext.Search.rrfFuse(Seq(text, vec), "doc_id", "rank", k = 15)
        .select(col("doc_id"), col("rank_0").as("text_rank"),
          col("rank_1").as("vec_rank"), col("rrf"))
    }, oracleSql =
      // q135's BM25 chain and q36's cosine ranking (single query vector),
      // row_number'd into 1-based ranks, full-outer-joined, fused as
      // 1/(60+rank) contributions summed in arm order.
      raw"""WITH tk AS (SELECT doc_id, unnest(list_filter(
           |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS token
           |  FROM documents),
           |idx AS (SELECT token, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
           |dl AS (SELECT doc_id, SUM(tf) AS dl FROM idx GROUP BY doc_id),
           |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
           |dft AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM idx
           |  WHERE token IN ('spark', 'table', 'data') GROUP BY token),
           |s AS (SELECT i.doc_id, i.token,
           |  (((CAST(c.n AS DOUBLE) - CAST(d.df AS DOUBLE)) + 0.5)
           |     / (CAST(d.df AS DOUBLE) + 0.5))
           |    * (CAST(i.tf AS DOUBLE) * (1.2 + 1.0))
           |    / (CAST(i.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
           |        (CAST(l.dl AS DOUBLE)
           |          / (CAST(c.tot AS DOUBLE) / CAST(c.n AS DOUBLE))))) AS sc
           |  FROM idx i JOIN dft d USING (token) JOIN dl l USING (doc_id), c
           |  WHERE i.token IN ('spark', 'table', 'data')),
           |p AS (SELECT doc_id,
           |  SUM(CASE WHEN token = 'spark' THEN sc END) AS p0,
           |  SUM(CASE WHEN token = 'table' THEN sc END) AS p1,
           |  SUM(CASE WHEN token = 'data' THEN sc END) AS p2
           |  FROM s GROUP BY doc_id),
           |bmr AS (SELECT doc_id,
           |  CAST(row_number() OVER (ORDER BY
           |    coalesce(p0, 0.0) + coalesce(p1, 0.0) + coalesce(p2, 0.0) DESC,
           |    doc_id) AS BIGINT) AS text_rank
           |  FROM p),
           |bm AS (SELECT doc_id, text_rank FROM bmr WHERE text_rank <= 50),
           |vq AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           |  FROM embeddings WHERE vec_id = 0),
           |vr AS (SELECT vec_id AS doc_id,
           |  CAST(row_number() OVER (ORDER BY
           |    list_cosine_similarity(qv, cv) DESC, vec_id) AS BIGINT) AS vec_rank
           |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
           |        FROM embeddings WHERE vec_id <> 0), vq),
           |vv AS (SELECT doc_id, vec_rank FROM vr WHERE vec_rank <= 50),
           |f AS (SELECT coalesce(bm.doc_id, vv.doc_id) AS doc_id,
           |  bm.text_rank, vv.vec_rank,
           |  coalesce(1.0 / (60.0 + CAST(bm.text_rank AS DOUBLE)), 0.0) +
           |  coalesce(1.0 / (60.0 + CAST(vv.vec_rank AS DOUBLE)), 0.0) AS rrf
           |  FROM bm FULL OUTER JOIN vv ON bm.doc_id = vv.doc_id)
           |SELECT doc_id, text_rank, vec_rank, rrf FROM f
           |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin),

    // ext: product-quantization ANN (Jégou et al. 2011) — the
    // memory-bound 100 TB similarity path: 4 sub-codebooks × 16
    // integer-Lloyd centroids over int8 slices, each vector stored as 4
    // code ids, query ranked by exact-integer asymmetric distance
    // (driver-built m×k lookup tables applied as a literal projection).
    Query("q144_pq_ann", Family.Retrieval, (s, dir) =>
      ProductQuantization.topK(Tables.load(s, dir, "embeddings"),
        queryId = 0L, k = 10, m = 4, ksub = 16, iters = 2), oracleSql =
      s"""WITH ${pqCtes(m = 4, ksub = 16, iters = 2, dim = 64, qid = 0)}
         |SELECT vec_id, pq_dist,
         |  CAST(row_number() OVER (ORDER BY pq_dist, vec_id) AS BIGINT) AS rk
         |FROM scs WHERE vec_id <> 0
         |ORDER BY pq_dist, vec_id LIMIT 10""".stripMargin)
  )
}
