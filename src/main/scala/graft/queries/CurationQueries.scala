package graft
package queries

import graft.core.{Merge, TableStore}
import graft.curation.{Sampling, Scd2}
import graft.ext.{Contamination, Dedup, Dsir, Mixing, Packing, TextAnalysis}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Support._

/** Curation: SCD2 and MERGE, sampling, packing, mixing, quality
  * filtering and corpus ingest. */
object CurationQueries {

  /** Mixture weights for q103: source `src<i>` gets `(i % 4) + 1` parts
    * of the 10 000-token budget (Σparts = 50 → targets 200/400/600/800). */
  private val mixingParts: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) + 1L)).toMap

  /** DuckDB replay of [[graft.ext.Perceptron.train]] + the q173 confusion
    * matrix, the training loop UNROLLED per iteration (the chain IS the
    * spec of the fixed iteration count): w1 = Σ_all y·x (margin 0 counts
    * as misclassified for both classes), then per round the margins under
    * w_{t-1} pick the misclassified set whose signed counts fold into
    * w_t. All int64; the bias rides as feature index 1024. */
  private def perceptronOracleSql(iters: Int): String = {
    def nib(k: Int) = {
      val a = s"ascii(substr(md5(t), ${k + 1}, 1))"
      s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
    }
    val bkt = "CAST(" +
      (0 until 7).map(k => s"${nib(k)} * ${1L << (4 * k)}").mkString(" + ") +
      " AS BIGINT) % 1024"
    val head =
      raw"""tk AS (SELECT doc_id, COALESCE(lang = 'en', FALSE) AS pos,
           |    list_filter(string_split_regex(lower(text), '\W+'),
           |      x -> x <> '') AS t
           |  FROM documents),
           |tok AS (SELECT doc_id, pos, $bkt AS b FROM (
           |    SELECT doc_id, pos, unnest(t) AS t FROM tk)),
           |feat AS (SELECT doc_id, pos, b, CAST(COUNT(*) AS BIGINT) AS n
           |    FROM tok GROUP BY 1, 2, 3
           |  UNION ALL SELECT doc_id, pos, 1024, 1 FROM tk),
           |w1 AS (SELECT b, SUM(CASE WHEN pos THEN n ELSE -n END) AS w
           |  FROM feat GROUP BY b)""".stripMargin
    val rounds = (2 to iters).map { t =>
      s"""m$t AS (SELECT f.doc_id, SUM(f.n * w.w) AS margin
         |  FROM feat f JOIN w${t - 1} w ON f.b = w.b GROUP BY f.doc_id),
         |mis$t AS (SELECT tk.doc_id FROM tk JOIN m$t USING (doc_id)
         |  WHERE (tk.pos AND m$t.margin <= 0)
         |     OR (NOT tk.pos AND m$t.margin >= 0)),
         |d$t AS (SELECT f.b, SUM(CASE WHEN f.pos THEN f.n ELSE -f.n END) AS d
         |  FROM feat f JOIN mis$t m ON f.doc_id = m.doc_id GROUP BY f.b),
         |w$t AS (SELECT COALESCE(w.b, d.b) AS b,
         |    COALESCE(w.w, 0) + COALESCE(d.d, 0) AS w
         |  FROM w${t - 1} w FULL JOIN d$t d ON w.b = d.b)""".stripMargin
    }
    s"""WITH ${(head +: rounds).mkString(",\n")},
       |fm AS (SELECT f.doc_id, SUM(f.n * w.w) AS margin
       |  FROM feat f JOIN w$iters w ON f.b = w.b GROUP BY f.doc_id)
       |SELECT tk.pos AS is_en, fm.margin > 0 AS predicted,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(fm.margin) AS BIGINT) AS sum_margin
       |FROM tk JOIN fm USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // §2A A10+A12: full SCD2 lifecycle through TableStore — bulk insert of
    // the earliest event per user, then scd2Complex over the remaining CDC
    // stream rebuilds every user's version chain.
    Query("q20_scd2_history", Family.Curation, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val withRn = ev.withColumn("__rn", row_number().over(w))
      val full = withRn.filter(col("__rn") === 1).drop("__rn")
      val delta = withRn.filter(col("__rn") > 1).drop("__rn")
      val store = Scratch.store(s)
      Scd2.bulkInsert(store, "ev", full, tsCol = "ts")
      Scd2.scd2Complex(store, "ev", delta, pkCol = "user_id", tsCol = "ts")
      store.read("ev")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("start_datetime"), col("end_datetime"),
          col("is_current"))
        .orderBy(col("user_id"), col("start_datetime"))
    }, oracleSql =
      """SELECT user_id, event_id, event_type, value,
        | ts AS start_datetime,
        | coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
        |          TIMESTAMP '2250-01-01') AS end_datetime,
        | (lead(ts) OVER (PARTITION BY user_id ORDER BY ts)) IS NULL AS is_current
        |FROM events
        |ORDER BY user_id, start_datetime""".stripMargin),

    // §2A A9 (stratified variant): deterministic per-stratum reservoir —
    // up to 40 docs per source in md5(doc_id) order, reproducible across
    // engines and partitionings.
    Query("q67_stratified_sample", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Sampling.stratifiedByHash(docs, Seq("source"), "doc_id", k = 40)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }, oracleSql =
      // Deterministic per-stratum reservoir: top-40 per source by md5(id).
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 40
        |ORDER BY source, doc_id""".stripMargin),

    // ext: sequence packing — contiguous fill of 2048-token training
    // sequences over the md5(doc_id) corpus order, via the two-pass
    // distributed prefix sum (range partition → intra-partition running
    // totals → broadcast partition offsets; no global-order window).
    Query("q69_sequence_packing", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withTok = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      val packed = Packing.contiguousFill(withTok, "doc_id", "n_tok",
        budgetTokens = 2048L)
      Packing.binSummary(packed).orderBy(col("bin"))
    }, oracleSql =
      // Contiguous-fill packing replica: same md5 corpus order, same
      // exclusive-offset integer floor-division bin assignment (the window
      // form — the engine's distributed prefix sum must agree exactly).
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM tok)
        |SELECT CAST(off // 2048 AS BIGINT) AS bin, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM cum GROUP BY bin ORDER BY bin""".stripMargin),

    // ext: the end-to-end curation funnel — language filter → quality
    // filter → repetition filter → exact dedup, per-stage retention in ONE
    // pass (conditional aggregation over a pure projection; the corpus is
    // never shuffled, dedup counts distinct fingerprints of survivors).
    Query("q70_curation_funnel", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = TextAnalysis.tokens(col("text"))
      val enriched = TextAnalysis.qualityFeatures(docs)
        .withColumn("lang_guess", TextAnalysis.langId(col("text")))
        .withColumn("nd", size(array_distinct(toks)).cast("long"))
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      val p1 = col("lang_guess") === "en"
      val p2 = p1 && col("quality_score") > 0.3
      val p3 = p2 && col("n_tokens") > 0 &&
        col("nd").cast("double") / col("n_tokens") >= 0.55
      enriched.agg(
        count(lit(1)).as("n_all"),
        sum(when(p1, 1L).otherwise(0L)).as("n_lang"),
        sum(when(p2, 1L).otherwise(0L)).as("n_quality"),
        sum(when(p3, 1L).otherwise(0L)).as("n_clean"),
        countDistinct(when(p3, col("fp"))).as("n_unique"))
    }, oracleSql =
      // Funnel replica: same lang-ID argmax, quality-score formula,
      // repetition ratio, and fingerprint as q37/q38/q59/q30, staged as
      // cumulative predicates and counted in one conditional aggregate.
      """WITH e AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |    len(t) AS nt, len(list_distinct(t)) AS nd,
        |    md5(array_to_string(t, ' ')) AS fp,
        |    len(list_intersect(t, ['the','a','and','of','to','in','is','on','for','with'])) AS s_en,
        |    len(list_intersect(t, ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS s_de,
        |    len(list_intersect(t, ['le','la','les','et','est','une','dans','pour','que','au'])) AS s_fr,
        |    len(list_intersect(t, ['el','los','las','y','es','una','por','con','para','como'])) AS s_es,
        |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS atl,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','and','of','to','in','is','on','for','with'], x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS swr,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS nr
        |  FROM e),
        |g AS (
        |  SELECT *,
        |    CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |         WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_guess,
        |    CASE WHEN nt < 5 THEN 0.0 ELSE
        |      1.0 - abs(atl - 5.0) / 10.0 - nr
        |        + CASE WHEN swr BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END
        |    END AS q
        |  FROM f),
        |flags AS (
        |  SELECT *,
        |    (lang_guess = 'en') AS p1,
        |    (lang_guess = 'en' AND q > 0.3) AS p2,
        |    (lang_guess = 'en' AND q > 0.3 AND nt > 0
        |      AND CAST(nd AS DOUBLE) / nt >= 0.55) AS p3
        |  FROM g)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
        |  CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
        |  CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |  CAST(COUNT(DISTINCT CASE WHEN p3 THEN fp END) AS BIGINT) AS n_unique
        |FROM flags""".stripMargin),

    // §2A A13: 3-branch CDC merge (update / delete / insert) with
    // latest-per-key dedup, through Merge + TableStore.
    Query("q21_merge_upsert", Family.Curation, (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .withColumn("record_deleted", col("event_type") === "error")
      val cutoff = lit("2024-01-20")
      val store = Scratch.store(s)
      val target = Scd2.latestPerKey(
        ev.filter(col("ts") < cutoff), Seq("user_id"), "ts")
      store.commit("users", target, "create")
      val delta = ev.filter(col("ts") >= cutoff)
      Scd2.applyCdcDeltas(store, "users", delta, Seq("user_id"), "ts")
      store.read("users")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }, oracleSql =
      """WITH tgt AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |                 FROM events WHERE ts < TIMESTAMP '2024-01-20') WHERE rn = 1
        |), src AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
        |                 FROM events WHERE ts >= TIMESTAMP '2024-01-20') WHERE rn = 1
        |)
        |SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value FROM src WHERE event_type <> 'error'
        |  UNION ALL
        |  SELECT t.user_id, t.event_id, t.event_type, t.value FROM tgt t
        |  WHERE t.user_id NOT IN (SELECT user_id FROM src)
        |)
        |ORDER BY user_id""".stripMargin),

    // §2A A9 sampling: portable md5-keyed Bernoulli sample (the
    // `df.sample` variant is Sampling.bernoulli, spec-tested — this one is
    // re-derivable in any engine, hence oracle-checkable).
    Query("q54_sample_delta", Family.Curation, (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      graft.curation.Sampling.byKeyHash(o, "o_orderkey", 0.1)
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    }, oracleSql =
      {
      def nib(i: Int) = {
        val a = s"ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), $i, 1))"
        s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
      }
      s"""SELECT CAST(count(*) AS BIGINT) AS n_sampled,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM orders
         |WHERE ${nib(1)} * 16 + ${nib(2)} < 25""".stripMargin
    }),

    // ext: deterministic corpus shuffle → 8 round-robin training shards;
    // per-shard count plus an order-sensitive checksum (sum of
    // shard_pos·doc_id) so the oracle verifies the exact permutation, not
    // just the partition sizes.
    Query("q76_corpus_shuffle", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      Sampling.deterministicShuffle(docs, "doc_id", numShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("shard_pos") * col("doc_id")).as("order_checksum"))
        .orderBy(col("shard"))
    }, oracleSql =
      // Global md5(doc_id) rank → round-robin shard + within-shard position;
      // the checksum pins the exact permutation.
      """WITH ranked AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |  FROM documents)
        |SELECT CAST(pos % 8 AS INT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM((pos // 8) * doc_id) AS BIGINT) AS order_checksum
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin),

    // pipeline: domain-mixture sampling to a token budget — the "data
    // mixing" step (so much of each source domain) as a DETERMINISTIC
    // downsample: per-domain integer token targets from mixture weights,
    // selection by exclusive running-token offset in md5(doc_id) order.
    // The per-domain prefix sum is distributed via md5-prefix buckets
    // (no whole-domain single-task window), so one scan + one shuffle at
    // any corpus size. Weights 1:2:3:4 by source index mod 4, 10k budget.
    Query("q103_domain_mixture", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withTok = docs.withColumn("tok",
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long"))
      val sel = graft.ext.Mixing.sampleToBudget(withTok, "doc_id", "source",
        "tok", budgetTokens = 10000L, parts = mixingParts)
      graft.ext.Mixing.mixtureSummary(sel, "source")
        .select(col("source"), col("n_docs"), col("sum_tokens"))
        .orderBy(col("source"))
    }, oracleSql =
      // Same selection rule replayed in SQL: exclusive per-domain running
      // token offset in md5(doc_id) order, kept while below the domain's
      // integer target (budget 10000, parts (i%4)+1 → floor targets
      // 200/400/600/800).
      """WITH t AS (SELECT doc_id, source,
        |    len(list_filter(string_split_regex(lower(text), '\W+'),
        |        x -> x <> '')) AS tok
        |  FROM documents),
        |p AS (SELECT doc_id, source, tok,
        |    COALESCE(SUM(tok) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS sum_tokens
        |FROM p
        |WHERE off < CASE CAST(substring(source, 4) AS INT) % 4
        |    WHEN 0 THEN 200 WHEN 1 THEN 400 WHEN 2 THEN 600 ELSE 800 END
        |GROUP BY source ORDER BY source""".stripMargin),

    // pipeline: hashed-feature linear quality classifier — the fastText
    // application shape (token → hash bucket → weight → sum → threshold)
    // as ONE codegen'd projection: no explode, no join, no shuffle of the
    // corpus. Integer-exact end to end, so the oracle replays the scores
    // bit-for-bit.
    Query("q104_quality_classifier", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.withColumn("score", graft.ext.QualityModel.score(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") >= 0L, 1L).otherwise(0L)).as("n_keep"),
          sum(col("score")).as("sum_score"))
        .orderBy(col("source"))
    }, oracleSql =
      // Bit-identical classifier replay: 28-bit md5 token hash (nibble
      // accumulation), bucket mod 1024, affine weight mod 4093 − 2046.
      {
      def nib(k: Int) = {
        val a = s"ascii(substr(md5(t), ${k + 1}, 1))"
        s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
      }
      val x = (0 until 7).map(k => s"${nib(k)} * ${1L << (4 * k)}").mkString(" + ")
      raw"""WITH scored AS (SELECT source,
           |    COALESCE(list_sum(list_transform(
           |      list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''),
           |      t -> ((CAST($x AS BIGINT) % 1024) * 1103515245 + 12345)
           |           % 4093 - 2046)), 0) AS score
           |  FROM documents)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           |  CAST(SUM(score) AS BIGINT) AS sum_score
           |FROM scored
           |GROUP BY source ORDER BY source""".stripMargin
    }),

    // pipeline: training-shard materialization — the step AFTER sequence
    // packing: concatenate each bin's documents (corpus md5 order, <eos>
    // separators) into the physical shard text a trainer consumes. Per-
    // bin work is bounded by the token budget, never by corpus size: the
    // only wide op is the bin shuffle, and each group collects ≤ budget
    // tokens. Shards are hashed (not emitted) so the anchor stays small.
    Query("q111_shard_materialize", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withTok = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      val packed = Packing.contiguousFill(withTok, "doc_id", "n_tok",
        budgetTokens = 2048L)
      packed.join(docs.select(col("doc_id"), col("text")), "doc_id")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          md5(concat_ws(" <eos> ",
            transform(
              array_sort(collect_list(struct(
                md5(col("doc_id").cast("string")).as("o"),
                col("doc_id").as("d"), col("text").as("t")))),
              x => x.getField("t")))).as("shard_md5"))
        .orderBy(col("bin"))
    }, oracleSql =
      // Same packing prefix sum, same corpus order, same <eos> separator —
      // the shard text hashes must agree byte-for-byte.
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, ord, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM tok),
        |b AS (SELECT doc_id, ord, CAST(off // 2048 AS BIGINT) AS bin FROM cum)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  md5(string_agg(d.text, ' <eos> ' ORDER BY b.ord, b.doc_id)) AS shard_md5
        |FROM b JOIN documents d USING (doc_id)
        |GROUP BY bin ORDER BY bin""".stripMargin),

    // ext: incremental corpus ingestion with cross-batch dedup — the
    // production shape of "dedup at ingest": fingerprints live in a
    // TABLE; each arriving batch dedups within itself (min doc per
    // fingerprint), anti-joins the fingerprint table, and appends both
    // the admitted docs and their fingerprints. Per-batch cost is the
    // batch size + one fingerprint-keyed join; the corpus is never
    // rescanned.
    Query("q127_incremental_ingest", Family.Curation, (s, dir) => {
      import s.implicits._
      val store = Scratch.store(s)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("f"),
          (col("doc_id") % 3).as("batch"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("f").orderBy("doc_id")
      val out = (0L to 2L).map { b =>
        val batch = docs.filter(col("batch") === b)
        val inBatch = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "batch")
        val admitted =
          if (b == 0L) inBatch
          else inBatch.join(store.read("fps").select("f"), Seq("f"), "left_anti")
        if (b == 0L) {
          store.commit("corpus", admitted, "create")
          store.commit("fps", admitted.select("f"), "create")
        } else {
          store.append("corpus", admitted)
          store.append("fps", admitted.select("f"))
        }
        (b, batch.count(), admitted.count(), store.read("corpus").count())
      }
      out.toDF("batch", "n_in", "n_admitted", "corpus_rows")
        .orderBy(col("batch"))
    }, oracleSql =
      // A doc is admitted iff its fingerprint's first occurrence (by
      // batch, then doc_id) is this doc; corpus_rows is the running total.
      """WITH d AS (SELECT doc_id, md5(text) AS f, doc_id % 3 AS batch
        |  FROM documents),
        |firsts AS (SELECT f, MIN(batch * 10000000000 + doc_id) AS ord
        |  FROM d GROUP BY f),
        |a AS (SELECT CAST(ord // 10000000000 AS BIGINT) AS batch,
        |    COUNT(*) AS n_admitted
        |  FROM firsts GROUP BY 1),
        |i AS (SELECT batch, COUNT(*) AS n_in FROM d GROUP BY batch)
        |SELECT i.batch, CAST(i.n_in AS BIGINT) AS n_in,
        |  CAST(COALESCE(a.n_admitted, 0) AS BIGINT) AS n_admitted,
        |  CAST(SUM(COALESCE(a.n_admitted, 0))
        |    OVER (ORDER BY i.batch) AS BIGINT) AS corpus_rows
        |FROM i LEFT JOIN a USING (batch) ORDER BY i.batch""".stripMargin),

    // source: JSONL corpus ingest — the de-facto LLM-corpus interchange
    // format (one JSON object per line). The fixture round-trips through
    // JSONL text files and is read back through the native JSON source
    // with an EXPLICIT schema (no driver-side inference pass — at 100 TB
    // schema inference is a full extra scan), then aggregated; the
    // oracle runs on the source-of-truth parquet, so equality proves the
    // round trip lost nothing (unicode escaping included).
    Query("q130_jsonl_ingest", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val out = Scratch.dir("jsonl")
      docs.select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value"))
        .write.mode("overwrite").text(out)
      val back = s.read.schema(
          "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .json(out)
      back.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_text_len"),
          countDistinct(md5(col("text"))).as("n_distinct"))
        .orderBy(col("source"))
    }, oracleSql =
      // Source-of-truth aggregate — equality with the Spark side (which
      // ran over the JSONL round trip) proves lossless ingest.
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
        |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // The subword tokenizer wired END-TO-END into a curation budget:
    // sequence packing (q69's contiguous fill, same md5 order and
    // prefix-sum scale shape) budgeted in REAL subword tokens from the
    // corpus-trained vocab instead of the whitespace approximation — the
    // token counter a trainer's 2048-token sequences actually bill
    // against. The oracle re-derives the vocab, replays every greedy
    // longest-match count, and repacks bit-for-bit.
    Query("q136_subword_packing", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val vocab = graft.ext.Subword.trainVocab(docs, "text",
        topMulti = 64, maxPieceLen = 5)
      val withTok = docs.select(col("doc_id"),
        graft.ext.Subword.tokenCount(col("text"), vocab).as("n_tok"))
      val packed = Packing.contiguousFill(withTok, "doc_id", "n_tok",
        budgetTokens = 2048L)
      Packing.binSummary(packed).orderBy(col("bin"))
    }, oracleSql =
      // q134's recursive vocab + greedy-match replay, extended per-DOC and
      // fed into q69's packing SQL: subword-budgeted contiguous fill.
      raw"""WITH RECURSIVE
           |occ AS (SELECT doc_id, unnest(list_filter(
           |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS w
           |  FROM documents),
           |wf AS (SELECT w, COUNT(*) AS freq FROM occ GROUP BY w),
           |pieces0 AS (SELECT freq, unnest(flatten(
           |    [ [ w[s:s+l-1] for s in range(1, length(w)-l+2) ]
           |      for l in range(1, 6) ])) AS piece FROM wf),
           |chars AS (SELECT DISTINCT piece FROM pieces0 WHERE length(piece) = 1),
           |multi AS (SELECT piece FROM (
           |  SELECT piece, SUM(freq) AS weight FROM pieces0
           |  WHERE length(piece) >= 2 GROUP BY piece
           |  ORDER BY weight DESC, piece LIMIT 64)),
           |vocab AS (SELECT DISTINCT piece FROM (
           |  SELECT piece FROM chars UNION ALL SELECT piece FROM multi)),
           |dw AS (SELECT DISTINCT w FROM occ),
           |st AS (
           |  SELECT w, 1 AS pos, 0 AS cnt FROM dw
           |  UNION ALL
           |  SELECT w,
           |    pos + coalesce((SELECT max(length(v.piece)) FROM vocab v
           |                    WHERE v.piece = w[pos:pos+length(v.piece)-1]), 1),
           |    cnt + 1
           |  FROM st WHERE pos <= length(w)),
           |wcnt AS (SELECT w, cnt FROM st WHERE pos = length(w) + 1),
           |persum AS (SELECT o.doc_id, SUM(c.cnt) AS sw
           |  FROM occ o JOIN wcnt c USING (w) GROUP BY o.doc_id),
           |doctok AS (SELECT d.doc_id, md5(CAST(d.doc_id AS VARCHAR)) AS ord,
           |  CAST(coalesce(p.sw, 0) AS BIGINT) AS n_tokens
           |  FROM documents d LEFT JOIN persum p USING (doc_id)),
           |cum AS (SELECT doc_id, n_tokens,
           |  COALESCE(SUM(n_tokens) OVER (ORDER BY ord, doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           |  FROM doctok)
           |SELECT CAST(off // 2048 AS BIGINT) AS bin, COUNT(*) AS n_docs,
           |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
           |FROM cum GROUP BY bin ORDER BY bin""".stripMargin),

    // The full curation chain composed END-TO-END, each stage's
    // SURVIVORS feeding the next — the shape a real pretraining-data
    // job runs, and the integration check the per-operator anchors
    // can't give: eval holdout → q70's language/quality/repetition gate
    // → exact dedup (min-id per fingerprint) → near-dup clustering
    // (keep each component's smallest id) → eval-8-gram
    // decontamination → q103's per-domain token-budget mixture →
    // deterministic shard assignment. Every stage is the already-
    // anchored operator applied unchanged; the final per-shard
    // (count, tokens, order checksum) is sensitive to every keep/drop
    // decision upstream, so a drift ANYWHERE in the chain — or in how
    // two stages compose (e.g. dedup reordering mixture's hash order)
    // — breaks the hash. Scale shape: narrow projections + the
    // operators' own bounded shuffles; nothing new materializes.
    Query("q137_pipeline_e2e", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val toks = TextAnalysis.tokens(col("text"))
      val gated = TextAnalysis.qualityFeatures(train)
        .withColumn("lang_guess", TextAnalysis.langId(col("text")))
        .withColumn("nd", size(array_distinct(toks)).cast("long"))
        .filter(col("lang_guess") === "en" && col("quality_score") > 0.3 &&
          col("n_tokens") > 0 &&
          col("nd").cast("double") / col("n_tokens") >= 0.55)
        .select(col("doc_id"), col("source"), col("text"))
      // survivor sets feed TWO consumers each (the next stage's keyed
      // probe AND the anti-join back onto themselves) — checkpoint them
      // so the gate/shingle work isn't recomputed per consumer; both are
      // post-filter frames, bounded by the kept corpus, and the blocks
      // are freed by the ContextCleaner when the frames go out of scope
      val exactKept = Dedup.exact(gated, "doc_id", "text").localCheckpoint()
      val losers = Dedup
        .nearDupComponents(exactKept, "doc_id", "text", n = 3, threshold = 0.8)
        .filter(col("doc_id") =!= col("component"))
        .select(col("doc_id"))
      val unique = exactKept.join(losers, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val dirty = Contamination
        .contaminatedIds(unique, evalSet, "doc_id", "text", n = 8)
      val clean = unique.join(dirty, Seq("doc_id"), "left_anti")
        .withColumn("tok", TextAnalysis.tokenCount(col("text")).cast("long"))
      val sel = Mixing.sampleToBudget(clean, "doc_id", "source", "tok",
        budgetTokens = 10000L, parts = mixingParts)
      val sharded = Sampling.deterministicShuffle(sel, "doc_id", numShards = 8)
      sharded.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("shard_pos") * col("doc_id")).as("order_checksum"))
        .orderBy(col("shard"))
    }, oracleSql =
      // The composed curation chain replayed stage by stage: q70's gate
      // CTEs verbatim, q30's min-id-per-fingerprint, q65's shingle-pair +
      // reachability clustering restricted to the exact-dedup survivors,
      // q66's eval-8-gram overlap against the post-dedup set, q103's
      // per-domain running-offset budget, q76's md5-order shard ranking.
      """WITH RECURSIVE e AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 97 <> 0),
        |f AS (
        |  SELECT doc_id, source, text, t,
        |    len(t) AS nt, len(list_distinct(t)) AS nd,
        |    md5(array_to_string(t, ' ')) AS fp,
        |    len(list_intersect(t, ['the','a','and','of','to','in','is','on','for','with'])) AS s_en,
        |    len(list_intersect(t, ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS s_de,
        |    len(list_intersect(t, ['le','la','les','et','est','une','dans','pour','que','au'])) AS s_fr,
        |    len(list_intersect(t, ['el','los','las','y','es','una','por','con','para','como'])) AS s_es,
        |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS atl,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','and','of','to','in','is','on','for','with'], x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS swr,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS nr
        |  FROM e),
        |g AS (
        |  SELECT *,
        |    CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |         WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_guess,
        |    CASE WHEN nt < 5 THEN 0.0 ELSE
        |      1.0 - abs(atl - 5.0) / 10.0 - nr
        |        + CASE WHEN swr BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END
        |    END AS q
        |  FROM f),
        |gated AS (
        |  SELECT doc_id, source, t, nt, fp FROM g
        |  WHERE lang_guess = 'en' AND q > 0.3 AND nt > 0
        |    AND CAST(nd AS DOUBLE) / nt >= 0.55),
        |ex AS (
        |  SELECT doc_id, source, t, nt FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM gated) WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS s
        |  FROM ex),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |prs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
        |          UNION SELECT id_b, id_a FROM prs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
        |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
        |uniq AS (
        |  SELECT doc_id, source, t, nt FROM ex
        |  WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)),
        |ev8 AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 7, 1) + 1),
        |    i -> array_to_string(t[i:i+7], ' ')))) AS s
        |  FROM (SELECT list_filter(string_split_regex(lower(text), '\W+'),
        |                x -> x <> '') AS t
        |        FROM documents WHERE doc_id % 97 = 0)),
        |tr8 AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 7, 1) + 1),
        |    i -> array_to_string(t[i:i+7], ' ')))) AS s
        |  FROM uniq),
        |clean AS (
        |  SELECT doc_id, source, nt FROM uniq
        |  WHERE doc_id NOT IN (
        |    SELECT DISTINCT tr8.doc_id FROM tr8 JOIN ev8 ON tr8.s = ev8.s)),
        |p AS (
        |  SELECT doc_id, source, nt,
        |    COALESCE(SUM(nt) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM clean),
        |selq AS (
        |  SELECT doc_id, nt FROM p
        |  WHERE off < CASE CAST(substring(source, 4) AS INT) % 4
        |    WHEN 0 THEN 200 WHEN 1 THEN 400 WHEN 2 THEN 600 ELSE 800 END),
        |ranked AS (
        |  SELECT doc_id, nt,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |  FROM selq)
        |SELECT CAST(pos % 8 AS INT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS sum_tokens,
        |  CAST(SUM((pos // 8) * doc_id) AS BIGINT) AS order_checksum
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin),

    // Adaptive per-domain quality cutoff: keep each source's top quartile
    // by quality score — the per-dump self-calibrating threshold pattern
    // (a fixed global cutoff over-prunes clean domains and under-prunes
    // noisy ones). The cutoff is the EXACT per-group 3/4 quantile
    // (integer cross-multiplication on counts — q126's machinery) of the
    // score QUANTIZED to a 2^-20 grid: one IEEE multiply + floor, bit-
    // identical across engines, and it bounds the quantile's compressed
    // (source, value) frame by the GRID (score range × 2^20 cells, a
    // constant) instead of the near-continuous raw-double domain, whose
    // distinct count grows with the corpus and would degenerate the
    // per-group cumulative window into a single-task row-count sort.
    // Scale: one hash-agg quantile over the bounded grid + one
    // broadcast-join filter pass; no corpus shuffle.
    Query("q139_adaptive_quality_cutoff", Family.Curation, (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      val scored = TextAnalysis.qualityFeatures(docs)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          floor(col("quality_score") * lit(1048576.0)).cast("long")
            .as("score_units"))
      graft.ext.Quantiles
        .keepAboveGroupQuantile(scored, "source", "score_units", 3L, 4L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"),
          max(col("threshold")).as("threshold_units"),
          max(col("group_rows")).as("n_total"))
        .orderBy(col("source"))
    }, oracleSql =
      // q38's score replay quantized to the 2^-20 grid + q126's
      // integer-exact quantile, composed: the per-source 3/4-quantile
      // threshold in grid units, then the kept set re-aggregated.
      """WITH feat AS (
        |  SELECT source,
        |    len(t) AS n_tokens,
        |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS avg_token_len,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','and','of','to','in','is','on','for','with'], x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS stopword_ratio,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS noise_ratio
        |  FROM (SELECT source, text,
        |          list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |        FROM documents) tt),
        |q AS (
        |  SELECT source, n_tokens,
        |    CAST(FLOOR((CASE WHEN n_tokens < 5 THEN 0.0 ELSE
        |      1.0 - abs(avg_token_len - 5.0) / 10.0 - noise_ratio
        |        + CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END
        |    END) * 1048576.0) AS BIGINT) AS score_units
        |  FROM feat),
        |c AS (SELECT source, score_units AS v, COUNT(*) AS c
        |  FROM q GROUP BY 1, 2),
        |w AS (SELECT source, v,
        |    SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum,
        |    SUM(c) OVER (PARTITION BY source) AS n
        |  FROM c),
        |t AS (SELECT source,
        |    MIN(CASE WHEN cum * 4 >= n * 3 THEN v END) AS threshold_units,
        |    MAX(n) AS n_total
        |  FROM w GROUP BY source)
        |SELECT q.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(q.n_tokens) AS BIGINT) AS kept_tokens,
        |  CAST(MAX(t.threshold_units) AS BIGINT) AS threshold_units,
        |  CAST(MAX(t.n_total) AS BIGINT) AS n_total
        |FROM q JOIN t ON q.source = t.source
        |WHERE q.score_units >= t.threshold_units
        |GROUP BY q.source ORDER BY q.source""".stripMargin),

    // Temperature-scaled mixture (α = 1/2): per-domain token targets
    // proportional to sqrt(domain mass) — the standard multilingual
    // rebalance, upweighting small domains without hand-set weights.
    // Deterministic across engines because IEEE sqrt is correctly
    // rounded (unlike ln/pow), the normalizer is a fixed-order prefix
    // sum over the |domains|-row frame, and selection reuses q103's
    // exclusive md5-offset rule.
    Query("q142_temperature_mixture", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val withTok = docs.withColumn("tok",
        TextAnalysis.tokenCount(col("text")).cast("long"))
      Mixing.sampleToTemperatureBudget(withTok, "doc_id", "source", "tok",
          budgetTokens = 10000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          max(col("target")).as("target"))
        .orderBy(col("source"))
    }, oracleSql =
      // sqrt-tempered targets (prefix-sum normalizer in source order; MAX
      // of a monotone positive prefix = the total) + q103's exclusive
      // md5-offset selection.
      raw"""WITH d AS (SELECT doc_id, source,
           |    len(list_filter(string_split_regex(lower(text), '\W+'),
           |        x -> x <> '')) AS tok
           |  FROM documents),
           |m AS (SELECT source, SUM(tok) AS n FROM d GROUP BY source),
           |s AS (SELECT source, sqrt(CAST(n AS DOUBLE)) AS sh FROM m),
           |cum AS (SELECT source, sh,
           |    SUM(sh) OVER (ORDER BY source
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           |  FROM s),
           |tot AS (SELECT MAX(c) AS t FROM cum),
           |tg AS (SELECT source,
           |    CAST(FLOOR(10000.0 * sh / t) AS BIGINT) AS target
           |  FROM cum, tot),
           |p AS (SELECT doc_id, source, tok,
           |    COALESCE(SUM(tok) OVER (PARTITION BY source
           |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           |  FROM d)
           |SELECT p.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(p.tok) AS BIGINT) AS sum_tokens,
           |  CAST(MAX(tg.target) AS BIGINT) AS target
           |FROM p JOIN tg ON p.source = tg.source
           |WHERE p.off < tg.target
           |GROUP BY p.source ORDER BY p.source""".stripMargin),

    // ext: DSIR importance resampling (Xie et al. 2023) — hashed-unigram
    // importance weights trained against the English slice (one
    // ≤1024-row bucket shuffle, weights applied as a codegen'd literal
    // projection), then per-source exact-quantile top-25% selection.
    Query("q145_dsir_selection", Family.Curation, (s, dir) =>
      Dsir.select(Tables.loadSpread(s, dir, "documents"), "text", "source",
          isTarget = col("lang") === "en", num = 3L, den = 4L)
        .select(col("doc_id"), col("source"), col("dsir_score"),
          col("threshold"), col("group_rows"))
        .orderBy(col("doc_id")), oracleSql =
      // Replays Dsir exactly: same md5-28 bucket, smoothed count-ratio
      // weights via the SAME IEEE double divide, length-normalized floor
      // score, exact per-source 3/4-quantile gate.
      {
      def nib(k: Int) = {
        val a = s"ascii(substr(md5(t), ${k + 1}, 1))"
        s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
      }
      val bkt = "CAST(" +
        (0 until 7).map(k => s"${nib(k)} * ${1L << (4 * k)}").mkString(" + ") +
        " AS BIGINT) % 1024"
      raw"""WITH tk AS (SELECT doc_id, source, lang,
           |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |tok AS (SELECT doc_id, tgt, $bkt AS b FROM (
           |    SELECT doc_id, lang = 'en' AS tgt, unnest(t) AS t FROM tk)),
           |cnt AS (SELECT b, COUNT(*) AS raw,
           |    SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tgt
           |  FROM tok GROUP BY b),
           |w AS (SELECT r.b,
           |    COALESCE(CAST(floor(((c.tgt + 1) * 1000000.0)
           |      / CAST(c.raw + 1 AS DOUBLE)) AS BIGINT), 1000000) AS w
           |  FROM (SELECT CAST(range AS BIGINT) AS b FROM range(1024)) r
           |  LEFT JOIN cnt c ON r.b = c.b),
           |ds AS (SELECT k.doc_id, SUM(w.w) AS s, COUNT(*) AS n
           |  FROM tok k JOIN w ON k.b = w.b GROUP BY k.doc_id),
           |sc AS (SELECT tk.doc_id, tk.source,
           |    COALESCE(CAST(floor(CAST(ds.s AS DOUBLE) / ds.n) AS BIGINT), 0)
           |      AS dsir_score
           |  FROM tk LEFT JOIN ds ON tk.doc_id = ds.doc_id),
           |q AS (SELECT source,
           |    MIN(CASE WHEN cum * 4 >= n * 3 THEN dsir_score END) AS th,
           |    CAST(MAX(n) AS BIGINT) AS group_rows
           |  FROM (SELECT source, dsir_score,
           |      SUM(c) OVER (PARTITION BY source ORDER BY dsir_score) AS cum,
           |      SUM(c) OVER (PARTITION BY source) AS n
           |    FROM (SELECT source, dsir_score, COUNT(*) AS c FROM sc
           |          GROUP BY 1, 2) g) cg
           |  GROUP BY source)
           |SELECT sc.doc_id, sc.source, sc.dsir_score,
           |  q.th AS threshold, q.group_rows
           |FROM sc JOIN q ON sc.source = q.source
           |WHERE sc.dsir_score >= q.th
           |ORDER BY sc.doc_id""".stripMargin
    }),

    // curation: weight-proportional Bernoulli sampling (q149) — keep each
    // document with probability ∝ its n_chars (uniform PER TOKEN, not per
    // doc), decided by an int64 cross-multiply on a 28-bit md5 hash: no
    // floats, no shuffle, replayable on any engine.
    Query("q149_weighted_sample", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.curation.Sampling
        .weightedBernoulli(docs, "doc_id", "n_chars", expectedK = 400)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      // Integer cross-multiply replay of weightedBernoulli: 28-bit md5
      // prefix hash, keep iff h·W < k·w·2^28.
      """WITH tw AS (SELECT SUM(CAST(n_chars AS BIGINT)) AS w FROM documents)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents CROSS JOIN tw
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
        |    * tw.w < 400 * CAST(n_chars AS BIGINT) * 268435456
        |ORDER BY doc_id""".stripMargin),

    // curation: systematic PPS sampling (q150) — exactly k docs per
    // language, inclusion probability ∝ n_chars, selected by the pure
    // integer rule ⌊cum·k/W⌋ > ⌊(cum−w)·k/W⌋ over the md5-ordered
    // cumulative weight. One group shuffle, no floats.
    Query("q150_systematic_pps", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.curation.Sampling
        .systematicPps(docs, Seq("lang"), "doc_id", "n_chars", k = 30)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }, oracleSql =
      // Floor-division replay of systematicPps: md5-ordered cumulative
      // weight, select rows whose interval contains a multiple of W/k.
      """WITH c AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w,
        |    SUM(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum,
        |    SUM(CAST(n_chars AS BIGINT)) OVER (PARTITION BY lang) AS tw
        |  FROM documents)
        |SELECT lang, doc_id FROM c
        |WHERE (cum * 30) // tw > ((cum - w) * 30) // tw
        |ORDER BY lang, doc_id""".stripMargin),

    // sources: ORC interchange (q156) — full lineitem out through the
    // ORC writer and back through the vectorized ORC reader, then a
    // decimal-exact aggregate that any roundtrip corruption (timestamp
    // epoch shift, double bits, null masks) would flip. Spark-native
    // columnar format #2 beside parquet; zstd to exercise codec plumbing.
    Query("q156_orc_roundtrip", Family.Curation, (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val out = Scratch.dir("orc")
      li.write.mode("overwrite").option("compression", "zstd").orc(out)
      s.read.orc(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          dsumd(col("l_quantity")).as("sum_qty"),
          dsumd(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("sum_disc_price"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          max(col("l_shipdate")).as("max_shipdate"))
        .orderBy(col("l_returnflag"))
    }, oracleSql =
      // Same aggregate straight off the parquet fixture — only a lossless
      // ORC roundtrip matches it.
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  MAX(l_shipdate) AS max_shipdate
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // sources: CSV ingest with corrupt-row quarantine (q157) — the
    // crawl-intake shape: typed schema over untrusted delimited text,
    // PERMISSIVE parse, rows that fail typing land in a quarantine
    // bucket (audited, never dropped silently) while clean rows flow
    // on. Corruption is synthesized deterministically (every orderkey
    // divisible by 997 gets an unparseable numeric) so the oracle
    // replays the split exactly.
    Query("q157_csv_quarantine", Family.Curation, (s, dir) => {
      val ord = Tables.load(s, dir, "orders")
      val out = Scratch.dir("csv")
      val cents =
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
      val centsField =
        when(col("o_orderkey") % 997 === 0, concat(lit("x"), cents))
          .otherwise(cents.cast("string"))
      ord.select(concat_ws(",", col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), centsField, col("o_orderpriority"))
          .as("value"))
        .write.mode("overwrite").text(out)
      val back = s.read
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING," +
          " cents BIGINT, o_orderpriority STRING, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
      back.groupBy(
          when(col("_corrupt").isNull, col("o_orderstatus"))
            .otherwise(lit("QUARANTINED")).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("_corrupt").isNull, col("cents"))
            .otherwise(lit(0L))).as("sum_cents"))
        .orderBy(col("bucket"))
    }, oracleSql =
      // The deterministic corruption rule replayed as a filter: orderkeys
      // divisible by 997 quarantine, the rest aggregate by status.
      """SELECT o_orderstatus AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100 )
        |    AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderkey % 997 <> 0
        |GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'QUARANTINED', COUNT(*), CAST(0 AS BIGINT)
        |FROM orders WHERE o_orderkey % 997 = 0
        |ORDER BY bucket""".stripMargin),

    // Trained quality classifier (q173) — a full-batch integer perceptron
    // on hashed-unigram counts learns en-vs-other IN-QUERY (3 rounds,
    // w += Σ_misclassified y·x, exact int64 over an unordered set, so
    // training replays bit-for-bit on any engine). Scoring is one
    // projection against the literal trained weights; the confusion
    // matrix with per-cell margin sums is sensitive to every weight.
    Query("q173_trained_classifier", Family.Curation, (s, dir) => {
      val docs = Tables.loadSpread(s, dir, "documents")
      val isEn = coalesce(col("lang") === "en", lit(false))
      // tokenize+md5+bucket ONCE; 3 training rounds and the final scoring
      // pass all read the checkpointed integer arrays (previously 7 full
      // tokenize+hash passes over the corpus text)
      val feat = graft.ext.Perceptron.featurize(docs, "text", isEn)
        .localCheckpoint()
      val w = graft.ext.Perceptron.trainOnFeatures(feat, iterations = 3)
      val score = graft.ext.Perceptron.marginOnFeatures(w)
      feat.select((col("__y") === 1L).as("is_en"), score.as("__m"),
          (score > 0L).as("predicted"))
        .groupBy(col("is_en"), col("predicted"))
        .agg(count(lit(1)).as("n"), sum(col("__m")).as("sum_margin"))
        .orderBy(col("is_en"), col("predicted"))
    }, oracleSql =
      perceptronOracleSql(3)),

    // Upsampled mixture (q176) — the other half of data mixing: domains
    // whose token target exceeds their mass REPEAT across tagged epochs
    // (floor(target/mass) full passes + the deterministic md5-prefix
    // fractional epoch), while oversized domains downsample by the same
    // exclusive-offset rule. Pure integer arithmetic; every copy
    // decision replays in the oracle.
    Query("q176_upsample_mixture", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ext.Mixing.upsampleToBudget(docs, "doc_id", "source", "n_chars",
          budgetTokens = 5000000L, parts = mixingParts)
        .groupBy(col("source"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("source"), col("epoch"))
    }, oracleSql =
      // Integer replay of the epoch rule: copies = target//mass extra-one
      // when the exclusive md5-order offset < target mod mass.
      {
      val targetRows = mixingParts.toSeq.sortBy(_._1).map { case (d, p) =>
        s"('$d', ${p * 100000L})"
      }.mkString(", ")
      s"""WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS tok
         |    FROM documents),
         |o AS (SELECT doc_id, source, tok,
         |    SUM(tok) OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - tok AS off
         |  FROM d),
         |m AS (SELECT source, SUM(tok) AS mass FROM d GROUP BY source),
         |t AS (SELECT * FROM (VALUES $targetRows) AS t(source, target)),
         |c AS (SELECT o.source, o.tok,
         |    (t.target // m.mass) + CASE WHEN o.off < (t.target % m.mass)
         |      THEN 1 ELSE 0 END AS copies
         |  FROM o JOIN m USING (source) JOIN t USING (source)
         |  WHERE m.mass > 0),
         |e AS (SELECT source, CAST(r.range AS BIGINT) AS epoch, tok
         |  FROM c JOIN range(256) r ON r.range < c.copies)
         |SELECT source, epoch, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(tok) AS BIGINT) AS sum_tokens
         |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }),

    // Leakage-safe train/eval split (q189) — near-duplicate documents
    // never straddle the split: q65's near-dup components move as ONE
    // unit keyed by their min-id representative, singletons are their
    // own unit, and the side is a deterministic md5 bucket of the unit
    // id (reproducible, partitioning-independent, no stored assignment
    // table). The `no_leakage` flag re-derives every near-dup pair and
    // counts the pairs whose ends disagree — must be zero. The failure
    // this prevents is the classic one: a training document's near-copy
    // in the eval set inflating every metric it touches. SplitsSpec
    // gates the unit semantics and the eval-share calibration.
    Query("q189_leakage_safe_split", Family.Curation, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // one shared candidate/verify pass for the split AND its audit
      // (pairs and components previously each re-ran the whole Jaccard
      // machinery); the split table (one narrow row per doc) feeds two
      // consumers — checkpoint it
      val (pairs, comp) = Dedup.jaccardPairsAndComponents(
        docs, "doc_id", "text", n = 3, threshold = 0.8)
      val split = graft.ext.Splits.leakageSafeSplitFromComponents(
        docs, "doc_id", comp, evalOf256 = 51).localCheckpoint()
      val straddling = pairs
        .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")),
          Seq("id_a"))
        .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")),
          Seq("id_b"))
        .filter(col("sa") =!= col("sb")).count()
      docs.join(split, Seq("doc_id"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("total_chars"),
          countDistinct(col("unit")).as("n_units"))
        .withColumn("no_leakage", lit(straddling == 0L))
        .orderBy(col("split"))
    }, oracleSql =
      // q65's recursive component replay, extended: units are
      // COALESCE(component, doc_id), the side is the first md5 byte of the
      // unit id (< 205 → train, the 51/256 eval share).
      {
      def nib(i: Int) = {
        val a = s"ascii(substr(md5(CAST(unit AS VARCHAR)), $i, 1))"
        s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
      }
      raw"""WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |prs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
        |          UNION SELECT id_b, id_a FROM prs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r),
        |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
        |units AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS unit,
        |    length(d.text) AS chars
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |sides AS (
        |  SELECT doc_id, unit, chars,
        |    CASE WHEN ${nib(1)} * 16 + ${nib(2)} < 205
        |      THEN 'train' ELSE 'eval' END AS split
        |  FROM units)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS total_chars,
        |  CAST(count(DISTINCT unit) AS BIGINT) AS n_units,
        |  true AS no_leakage
        |FROM sides GROUP BY split ORDER BY split""".stripMargin
    })
  )
}
