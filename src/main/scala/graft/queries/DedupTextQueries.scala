package graft
package queries

import graft.ext.{Chunking, Contamination, Dedup, Redaction, TextAnalysis}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Support._

/** Deduplication and text analysis: exact and near-dup detection,
  * language, quality, tokens, redaction. */
object DedupTextQueries {

  val all: Seq[Query] = Seq(
    // ext: near-dup cluster formation — the transitive closure that turns
    // pairwise dedup verdicts (q31's semantics) into keep-one-per-cluster
    // decisions. Components run on the unique-content graph and members
    // attach afterwards (never k² in the duplication factor); the oracle
    // recomputes the same clusters via a recursive reachability CTE over
    // member-level pairs.
    Query("q65_dedup_clusters", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.nearDupComponents(docs, "doc_id", "text", n = 3, threshold = 0.8)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("members"), max(col("doc_id")).as("max_id"))
        .orderBy(col("component"))
    }, oracleSql =
      // Connected components over the q31 pair list via recursive
      // reachability; component = min reachable id, so cluster summaries
      // are engine-independent.
      """WITH RECURSIVE toks AS (
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
        |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
        |SELECT component, COUNT(*) AS members, MAX(id) AS max_id
        |FROM comp GROUP BY component ORDER BY component""".stripMargin),

    // ext: train/eval decontamination — training docs sharing a word
    // 8-gram with the (doc_id % 97 = 0) eval slice, counted per source.
    // Eval keys broadcast; the corpus side is a narrow projection +
    // broadcast semi-join (never shuffled).
    Query("q66_decontaminate", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val hits = Contamination
        .contaminatedIds(train, evalSet, "doc_id", "text", n = 8)
        .withColumn("__hit", lit(1))
      train.join(hits, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_train"),
          count(col("__hit")).as("n_contaminated"))
        .orderBy(col("source"))
    }, oracleSql =
      // Word-8-gram overlap between the (doc_id % 97 = 0) eval slice and the
      // rest of the corpus, per source.
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 7, 1) + 1),
        |    i -> array_to_string(t[i:i+7], ' ')))) AS s
        |  FROM toks),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        |hit AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev ON sh.s = ev.s
        |        WHERE sh.doc_id % 97 <> 0)
        |SELECT d.source, COUNT(*) AS n_train, COUNT(h.doc_id) AS n_contaminated
        |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 97 <> 0
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // ext: exact dedup (hash-groupBy on normalized-content fingerprint).
    Query("q30_dedup_exact", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.exact(docs, "doc_id", "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_unique"))
        .orderBy(col("source"))
    }, oracleSql =
      // DuckDB equivalent of the normalized-content fingerprint:
      // md5 over the space-joined, lowercased, non-word-split token stream.
      """WITH fp AS (
        |  SELECT *, md5(array_to_string(
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''), ' ')) AS f
        |  FROM documents),
        |deduped AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fp)
        |  WHERE rn = 1)
        |SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT f) AS n_unique
        |FROM deduped GROUP BY source ORDER BY source""".stripMargin),

    // ext: n-gram Jaccard near-dup pairs (shingle-join candidates, exact
    // verify) — finds the fixture's planted ~0.99-Jaccard near-dups.
    Query("q31_ngram_jaccard", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> array_to_string(t[i:i+2], ' ')))) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
        |FROM pairs JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
        |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin),

    // ext: MinHash+LSH near-dup pairs (banded signatures → candidates →
    // exact Jaccard verify). Portable md5-derived hashes so the DuckDB
    // oracle replicates candidate generation bit-identically; ExtSpec also
    // asserts the result ⊆ q31's exact pairs.
    Query("q32_minhash_lsh", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, threshold = 0.8, portable = true)
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
      // Bit-identical replica of the portable MinHash+LSH pipeline: same
      // 28-bit md5 shingle key, same seeded affine hash family, same 4-row
      // band md5, same exact Jaccard verify over candidates.
      {
      val values = Dedup.minhashAffineConsts(32).zipWithIndex
        .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
      def nib(k: Int) = {
        val a = s"ascii(substr(hx, ${k + 1}, 1))"
        s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
      }
      val xExpr = (0 until 7).map(k => s"${nib(k)} * ${1L << (4 * k)}").mkString(" + ")
      raw"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |sh AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, greatest(len(t) - 2, 1) + 1),
           |    i -> array_to_string(t[i:i+2], ' ')))) AS s
           |  FROM toks),
           |xs AS (
           |  SELECT doc_id, CAST($xExpr AS BIGINT) AS x
           |  FROM (SELECT doc_id, md5(s) AS hx FROM sh) keyed),
           |mh AS (
           |  SELECT doc_id, i, min((a * x + b) % ${Dedup.MinhashPrime}) AS h
           |  FROM xs, (VALUES $values) consts(i, a, b) GROUP BY doc_id, i),
           |bands AS (
           |  SELECT doc_id, i // 4 AS band,
           |    md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY i)) AS bh
           |  FROM mh GROUP BY doc_id, i // 4),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |inter AS (
           |  SELECT c.id_a, c.id_b, COUNT(*) AS i
           |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
           |  GROUP BY c.id_a, c.id_b)
           |SELECT id_a, id_b, CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
           |FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
           |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.8
           |ORDER BY id_a, id_b""".stripMargin
    }),

    // ext: SimHash near-dup pairs (15-bit chunk banding + bit_count
    // verify). Portable md5-nibble token hashes ⇒ oracle-checkable.
    Query("q33_simhash", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6, portable = true)
        .orderBy(col("id_a"), col("id_b"))
    }, oracleSql =
      // Bit-identical replica of the portable SimHash pipeline: 60-bit
      // signature from md5 hex nibbles, 15-bit chunk banding, bit_count
      // Hamming verify. Generated per-bit SQL (60 sums) — the shape the
      // Spark aggregate compiles to as well.
      {
      val nibs = (0 until 15).map { k =>
        val a = s"ascii(substr(hx, ${k + 1}, 1))"
        s"CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END AS n$k"
      }.mkString(",\n    ")
      val sums = (0 until 60).map(b =>
        s"SUM(CASE WHEN ((n${b / 4} >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n    ")
      val sig = (0 until 60).map(b =>
        s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
      raw"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
           |hx AS (SELECT doc_id, md5(w) AS hx FROM tok),
           |nib AS (SELECT doc_id,
           |    $nibs
           |  FROM hx),
           |bits AS (SELECT doc_id,
           |    $sums
           |  FROM nib GROUP BY doc_id),
           |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS sh FROM bits),
           |ch AS (SELECT doc_id, sh, c, (sh >> CAST(c * 15 AS INTEGER)) & 32767 AS v
           |       FROM sig, range(0, 4) r(c)),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sa, b.sh AS sb
           |  FROM ch a JOIN ch b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
           |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
           |FROM cand WHERE bit_count(xor(sa, sb)) <= 6
           |ORDER BY id_a, id_b""".stripMargin
    }),

    // ext: repetition-based quality filter (Gopher-style): docs whose
    // distinct-token fraction collapses are flagged; integer sums keep the
    // aggregate deterministic, the single per-doc division is exact.
    Query("q59_repetition_filter", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = TextAnalysis.tokens(col("text"))
      docs.select(col("source"), size(toks).as("nt"),
          size(array_distinct(toks)).as("nd"))
        .filter(col("nt") > 0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt").cast("long")).as("total_tokens"),
          sum(col("nd").cast("long")).as("distinct_tokens"),
          sum(when(col("nd").cast("double") / col("nt") < 0.55, 1L).otherwise(0L))
            .as("n_repetitive"))
        .orderBy(col("source"))
    }, oracleSql =
      """WITH t AS (
        |  SELECT source,
        |    len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS nt,
        |    len(list_distinct(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''))) AS nd
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  CAST(SUM(nd) AS BIGINT) AS distinct_tokens,
        |  CAST(SUM(CASE WHEN CAST(nd AS DOUBLE) / nt < 0.55 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
        |FROM t WHERE nt > 0 GROUP BY source ORDER BY source""".stripMargin),

    // ext: n-gram-heuristic language ID distribution.
    Query("q37_text_langid", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.withColumn("lang_guess", TextAnalysis.langId(col("text")))
        .groupBy(col("lang_guess"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang_guess"))
    }, oracleSql =
      """WITH scored AS (
        |  SELECT doc_id,
        |    len(list_intersect(t, ['the','a','and','of','to','in','is','on','for','with'])) AS s_en,
        |    len(list_intersect(t, ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS s_de,
        |    len(list_intersect(t, ['le','la','les','et','est','une','dans','pour','que','au'])) AS s_fr,
        |    len(list_intersect(t, ['el','los','las','y','es','una','por','con','para','como'])) AS s_es
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |        FROM documents) tt)
        |SELECT lang_guess, COUNT(*) AS n_docs FROM (
        |  SELECT CASE
        |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |    WHEN s_fr >= s_es THEN 'fr'
        |    ELSE 'es' END AS lang_guess
        |  FROM scored) t
        |GROUP BY lang_guess ORDER BY lang_guess""".stripMargin),

    // ext: quality scoring — bucketed counts per labeled lang (counts are
    // exact; the per-doc score itself is deterministic double arithmetic).
    Query("q38_text_quality", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.qualityFeatures(docs)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(when(col("quality_score") > 0.8, 1L).otherwise(0L)).as("n_high"),
          sum(when(col("quality_score") < 0.3, 1L).otherwise(0L)).as("n_low"))
        .orderBy(col("lang"))
    }, oracleSql =
      """WITH feat AS (
        |  SELECT lang,
        |    len(t) AS n_tokens,
        |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS avg_token_len,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','and','of','to','in','is','on','for','with'], x))) AS DOUBLE)
        |      / greatest(len(t), 1) AS stopword_ratio,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS noise_ratio
        |  FROM (SELECT lang, text,
        |          list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |        FROM documents) tt),
        |q AS (
        |  SELECT lang, n_tokens,
        |    CASE WHEN n_tokens < 5 THEN 0.0 ELSE
        |      1.0 - abs(avg_token_len - 5.0) / 10.0 - noise_ratio
        |        + CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END
        |    END AS quality_score
        |  FROM feat)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CASE WHEN quality_score > 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(SUM(CASE WHEN quality_score < 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin),

    // ext: token counting + vocabulary statistics.
    Query("q39_token_stats", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("source"), col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("total_tokens"),
          countDistinct(col("tok")).as("vocab_size"))
        .orderBy(col("source"))
    }, oracleSql =
      """SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS total_tokens,
        |  COUNT(DISTINCT tok) AS vocab_size
        |FROM (SELECT source, doc_id,
        |        unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS tok
        |      FROM documents) t
        |GROUP BY source ORDER BY source""".stripMargin),

    // ext: document fingerprinting (normalized content hash), bucketed.
    Query("q40_fingerprint_buckets", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .groupBy(substring(col("fp"), 1, 1).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"))
        .orderBy(col("bucket"))
    }, oracleSql =
      """SELECT substring(f, 1, 1) AS bucket, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT f) AS n_unique
        |FROM (SELECT md5(array_to_string(
        |        list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''), ' ')) AS f
        |      FROM documents) t
        |GROUP BY bucket ORDER BY bucket""".stripMargin),

    // ext: PII detection + redaction — synthetic PII (email per doc, IPv4
    // on even ids, dashed phone on ids %3=0, all derived from doc_id so
    // the oracle can inject the identical text) counted and redacted in
    // one codegen'd projection; `chars_removed` proves the replacement
    // actually rewrote the text, `n_residual` proves idempotence (a tag
    // never re-matches a pattern).
    Query("q73_pii_redaction", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit(" call 555-867-5309"))
          .otherwise(lit("")))
      val red = Redaction.redact(pii)
      docs.select(col("source"), pii.as("__t"), red.as("__r"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Redaction.emailCount(col("__t")).cast("long")).as("n_emails"),
          sum(Redaction.ipv4Count(col("__t")).cast("long")).as("n_ips"),
          sum(Redaction.phoneCount(col("__t")).cast("long")).as("n_phones"),
          sum((length(col("__t")) - length(col("__r"))).cast("long"))
            .as("chars_removed"),
          sum((Redaction.emailCount(col("__r")) + Redaction.ipv4Count(col("__r"))
            + Redaction.phoneCount(col("__r"))).cast("long")).as("n_residual"))
        .orderBy(col("source"))
    }, oracleSql =
      // Same PII injection (from doc_id), same regexes — the patterns are
      // written in the Java-regex ∩ RE2 common subset so both engines match
      // identically; DuckDB needs the 'g' flag for replace-all.
      """WITH p AS (
        |  SELECT source,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      || CASE WHEN doc_id % 2 = 0
        |           THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |                || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
        |      || CASE WHEN doc_id % 3 = 0 THEN ' call 555-867-5309' ELSE '' END AS t
        |  FROM documents),
        |r AS (
        |  SELECT source, t,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |      '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS rr
        |  FROM p)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
        |  CAST(SUM(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))) AS BIGINT) AS n_ips,
        |  CAST(SUM(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b'))) AS BIGINT) AS n_phones,
        |  CAST(SUM(length(t) - length(rr)) AS BIGINT) AS chars_removed,
        |  CAST(SUM(len(regexp_extract_all(rr, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(rr, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |     + len(regexp_extract_all(rr, '\b\d{3}-\d{3}-\d{4}\b'))) AS BIGINT) AS n_residual
        |FROM r GROUP BY source ORDER BY source""".stripMargin),

    // ext: URL/domain extraction — synthetic URLs injected from doc_id
    // (sharded cdn domain per doc + a fixed host on ids %5=0), domains
    // pulled by regex group and exploded, frequency per domain. The
    // explode is a narrow op; the only shuffle is the domain agg.
    Query("q74_url_domains", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val urled = concat(col("text"),
        lit(" see https://cdn"), (col("doc_id") % 40).cast("string"),
        lit(".example.org/p/"), col("doc_id").cast("string"),
        when(col("doc_id") % 5 === 0, lit(" and http://www.test-site.io/home"))
          .otherwise(lit("")))
      docs.select(col("doc_id"),
          explode(Redaction.urlDomains(urled)).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("domain"))
    }, oracleSql =
      // Same URL injection; domains = regex group 1 of every match.
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' see https://cdn' || CAST(doc_id % 40 AS VARCHAR)
        |      || '.example.org/p/' || CAST(doc_id AS VARCHAR)
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN ' and http://www.test-site.io/home' ELSE '' END AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1)) AS domain
        |  FROM p)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM d GROUP BY domain ORDER BY domain""".stripMargin),

    // ext: overlapping-window chunking (240-char windows, stride 180) —
    // per-doc chunk counts and exact char totals, grouped into a
    // distribution so the result is small at any corpus size.
    Query("q75_doc_chunking", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Chunking.chunkSummary(
        Chunking.chunk(docs, "doc_id", "text", size = 240, stride = 180),
        "doc_id")
        .orderBy(col("n_chunks"))
    }, oracleSql =
      // Chunk starts 0, 180, 360, … below max(len,1); chunk = 240-char
      // substring; distribution over per-doc chunk counts.
      """WITH starts AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, greatest(length(text), 1), 180)) AS s
        |  FROM documents),
        |per_doc AS (
        |  SELECT doc_id, COUNT(*) AS n_chunks,
        |    SUM(length(substring(text, CAST(s + 1 AS INT), 240))) AS doc_chunk_chars
        |  FROM starts GROUP BY doc_id)
        |SELECT n_chunks, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(doc_chunk_chars) AS BIGINT) AS total_chunk_chars
        |FROM per_doc GROUP BY n_chunks ORDER BY n_chunks""".stripMargin),

    // ext: corpus-duplication quality signal (the C4/CCNet "duplicate
    // span fraction"): per document, the fraction of its distinct 8-token
    // shingles that also appear in ANY other document — rolled up per
    // source with a majority-duplicated doc count. Two shuffles (shingle
    // frequency agg + join back on the shingle), the canonical web-scale
    // shape; shingle generation itself is narrow codegen.
    Query("q83_dup_shingle_fraction", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val sh = docs.select(col("doc_id"), col("source"),
        explode(Dedup.shingles(col("text"), 8)).as("sh"))
      // shingles are distinct per doc, so count(*) = containing-doc count
      val cnt = sh.groupBy(col("sh")).agg(count(lit(1)).as("ndocs"))
      val perDoc = sh.join(cnt, Seq("sh"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_sh")).as("total_shingles"),
          sum(col("n_dup")).as("dup_shingles"),
          sum(when(col("n_dup") * 2 > col("n_sh"), 1L).otherwise(0L))
            .as("n_docs_majority_dup"))
        .orderBy(col("source"))
    }, oracleSql =
      // Same 8-token shingle replica as q31's 3-token one; a shingle's
      // containing-doc count is COUNT(*) because shingles are distinct per
      // doc.
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 7, 1) + 1),
        |    i -> array_to_string(t[i:i+7], ' ')))) AS s
        |  FROM toks),
        |cnt AS (SELECT s, COUNT(*) AS ndocs FROM sh GROUP BY s),
        |perdoc AS (
        |  SELECT sh.doc_id, sh.source, COUNT(*) AS n_sh,
        |    SUM(CASE WHEN cnt.ndocs > 1 THEN 1 ELSE 0 END) AS n_dup
        |  FROM sh JOIN cnt ON sh.s = cnt.s
        |  GROUP BY sh.doc_id, sh.source)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_sh) AS BIGINT) AS total_shingles,
        |  CAST(SUM(n_dup) AS BIGINT) AS dup_shingles,
        |  CAST(SUM(CASE WHEN n_dup * 2 > n_sh THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_majority_dup
        |FROM perdoc GROUP BY source ORDER BY source""".stripMargin),

    // pipeline: repeated-span coverage — exact substring dedup's
    // token-window formulation (duplicated ≥8-token spans marked across
    // documents, the verbatim-boilerplate case document-level dedup can't
    // see). One explode + one window-key shuffle; per-doc interval union
    // bounds the window function by document length.
    Query("q105_span_dedup", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val cov = graft.ext.SpanDedup.coverage(docs, "doc_id", "text", w = 8)
      docs.select(col("doc_id"), col("source"))
        .join(cov, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("dup_tokens")).as("dup_tokens"),
          sum(when(col("dup_tokens") > 0L, 1L).otherwise(0L))
            .as("n_docs_with_dup"))
        .orderBy(col("source"))
    }, oracleSql =
      // Same window keys (md5 of the space-joined 8-token slice), same
      // min≠max duplication test, same interval-union coverage.
      raw"""WITH toks AS (SELECT doc_id, source,
           |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |wins AS (SELECT doc_id, CAST(r.i AS INT) AS s,
           |    md5(array_to_string(t[r.i:r.i+7], ' ')) AS k
           |  FROM toks,
           |    (SELECT unnest(range(1, (SELECT MAX(len(t)) FROM toks) + 1)) AS i) r
           |  WHERE r.i + 7 <= len(t)),
           |dup AS (SELECT k FROM wins GROUP BY k HAVING MIN(doc_id) <> MAX(doc_id)),
           |dw AS (SELECT DISTINCT doc_id, s FROM wins JOIN dup USING (k)),
           |cov AS (SELECT doc_id, SUM(c) AS covered FROM (
           |    SELECT doc_id, LEAST(8, COALESCE(
           |      LEAD(s) OVER (PARTITION BY doc_id ORDER BY s) - s, 8)) AS c
           |    FROM dw) x GROUP BY doc_id)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(len(t)) AS BIGINT) AS n_tokens,
           |  CAST(SUM(COALESCE(covered, 0)) AS BIGINT) AS dup_tokens,
           |  CAST(SUM(CASE WHEN COALESCE(covered, 0) > 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_docs_with_dup
           |FROM toks LEFT JOIN cov USING (doc_id)
           |GROUP BY source ORDER BY source""".stripMargin),

    // Perplexity-style LM filtering (CCNet/Gopher): corpus-trained bigram
    // MLE scores per document, integer fixed-point end to end so the
    // DuckDB oracle replays every score bit-for-bit. The 20 lowest-scored
    // documents are the out-of-distribution tail a perplexity filter
    // would drop.
    Query("q119_ngram_lm_score", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ext.NgramLM.bigramScores(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"), col("lm_score"))
        .orderBy(col("lm_score"), col("doc_id")).limit(20)
    }, oracleSql =
      // Bit-identical replay of NgramLM.bigramScores: same tokenizer as
      // q105's oracle, same integer floor divisions.
      raw"""WITH toks AS (SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |bg AS (SELECT doc_id, t[r.i] || ' ' || t[r.i+1] AS bg
           |  FROM toks,
           |    (SELECT unnest(range(1, (SELECT MAX(len(t)) FROM toks) + 1)) AS i) r
           |  WHERE r.i + 1 <= len(t)),
           |cb AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY bg),
           |cp AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS cp
           |  FROM bg GROUP BY 1),
           |occ AS (SELECT doc_id, (1000000 * cb.cb) // cp.cp AS s
           |  FROM bg JOIN cb USING (bg)
           |  JOIN cp ON split_part(bg.bg, ' ', 1) = cp.w1)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           |  CAST(SUM(s) // COUNT(*) AS BIGINT) AS lm_score
           |FROM occ GROUP BY doc_id
           |ORDER BY lm_score, doc_id LIMIT 20""".stripMargin),

    // ext: CCNet-style normalization before dedup — lowercase, digits→0,
    // punctuation→space, whitespace collapsed; the normalized form is the
    // DEDUP KEY (original bytes kept). Docs are injected with
    // deterministic formatting noise, and two boilerplate casings per
    // hundred ids normalize to the SAME fingerprint — so the normalized
    // distinct count drops below the raw one (the copies raw dedup
    // misses). Pure codegen projection + one agg; no shuffle before it.
    Query("q123_normalize_dedup", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val messy = when(col("doc_id") % 100 === 0,
          lit("Terms of Service apply. See section 4!"))
        .when(col("doc_id") % 100 === 1,
          lit("TERMS   of service APPLY;  see Section 4?"))
        .otherwise(concat(col("text"), lit(" NOISE-"),
          (col("doc_id") % 7).cast("string"),
          lit("!!  Extra   SPACES & 123 dots...")))
      val norm = graft.ext.Normalize.normalize(messy)
      docs.select(col("source"), messy.as("__m"), norm.as("__n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("__m")).cast("long")).as("chars_before"),
          sum(length(col("__n")).cast("long")).as("chars_after"),
          countDistinct(md5(col("__m"))).as("n_distinct_raw"),
          countDistinct(md5(col("__n"))).as("n_distinct_norm"))
        .orderBy(col("source"))
    }, oracleSql =
      // Same normalization chain (lower → digits→0 → punct→space →
      // collapse → trim); regexes in the Java∩RE2 subset, replayed with
      // DuckDB's 'g' flag.
      """WITH m AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 100 = 0
        |           THEN 'Terms of Service apply. See section 4!'
        |         WHEN doc_id % 100 = 1
        |           THEN 'TERMS   of service APPLY;  see Section 4?'
        |         ELSE text || ' NOISE-' || CAST(doc_id % 7 AS VARCHAR)
        |              || '!!  Extra   SPACES & 123 dots...' END AS t
        |  FROM documents),
        |n AS (
        |  SELECT source, t,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      lower(t), '[0-9]', '0', 'g'),
        |      '[^a-z0-9 ]', ' ', 'g'),
        |      '  +', ' ', 'g')) AS nt
        |  FROM m)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(length(t)) AS BIGINT) AS chars_before,
        |  CAST(SUM(length(nt)) AS BIGINT) AS chars_after,
        |  CAST(COUNT(DISTINCT md5(t)) AS BIGINT) AS n_distinct_raw,
        |  CAST(COUNT(DISTINCT md5(nt)) AS BIGINT) AS n_distinct_norm
        |FROM n GROUP BY source ORDER BY source""".stripMargin),

    // ext: C4-style line dedup with REWRITE — injected boilerplate lines
    // (two universal footers, an every-other-doc banner, a per-(id%5)
    // footer) duplicate across documents; each is kept only in its
    // smallest-id document and every document is reassembled from its
    // surviving lines in original order. Two line-key shuffles, linear
    // in corpus lines; reassembly bounded per document. The per-source
    // corpus_md5 pins the rewritten bytes exactly.
    Query("q124_line_dedup", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val lined = concat(col("text"),
        lit(" | all rights reserved example site"),
        lit(" | contact support at example dot com"),
        when(col("doc_id") % 2 === 0,
          lit(" | subscribe to our newsletter today")).otherwise(lit("")),
        lit(" | doc footer "), (col("doc_id") % 5).cast("string"))
      val rw = graft.ext.LineDedup.dedupLines(
        docs.select(col("doc_id"), lined.as("__t")),
        "doc_id", "__t", splitRegex = " \\| ", joinSep = " | ")
      rw.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_lines")).as("lines_total"),
          sum(col("n_kept")).as("lines_kept"),
          sum(length(col("rewritten")).cast("long")).as("chars_after"),
          md5(concat_ws(" <doc> ",
            transform(array_sort(collect_list(struct(col("doc_id"),
              col("rewritten").as("t")))), x => x.getField("t"))))
            .as("corpus_md5"))
        .orderBy(col("source"))
    }, oracleSql =
      // Full line-dedup replay: same injection, split on the literal
      // delimiter, keeper = min(doc_id) per duplicated line, filtered
      // ordered string_agg reassembly, per-source md5 of the doc-ordered
      // rewritten corpus.
      """WITH d AS (
        |  SELECT doc_id, source,
        |    text || ' | all rights reserved example site'
        |         || ' | contact support at example dot com'
        |         || CASE WHEN doc_id % 2 = 0
        |              THEN ' | subscribe to our newsletter today' ELSE '' END
        |         || ' | doc footer ' || CAST(doc_id % 5 AS VARCHAR) AS t
        |  FROM documents),
        |s AS (SELECT doc_id, string_split(t, ' | ') AS ls FROM d),
        |l AS (SELECT doc_id, CAST(r.i AS INT) AS idx, ls[CAST(r.i AS INT)] AS line
        |  FROM s,
        |    (SELECT unnest(range(1, (SELECT MAX(len(ls)) FROM s) + 1)) AS i) r
        |  WHERE r.i <= len(ls)),
        |k AS (SELECT md5(line) AS k, MIN(doc_id) AS keeper,
        |        MIN(doc_id) <> MAX(doc_id) AS dup
        |      FROM l GROUP BY md5(line)),
        |m AS (SELECT l.doc_id, l.idx, l.line,
        |        (NOT k.dup OR l.doc_id = k.keeper) AS kept
        |      FROM l JOIN k ON md5(l.line) = k.k),
        |rw AS (SELECT doc_id, COUNT(*) AS n_lines,
        |        SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS n_kept,
        |        COALESCE(string_agg(CASE WHEN kept THEN line END,
        |          ' | ' ORDER BY idx), '') AS rewritten
        |      FROM m GROUP BY doc_id)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(rw.n_lines) AS BIGINT) AS lines_total,
        |  CAST(SUM(rw.n_kept) AS BIGINT) AS lines_kept,
        |  CAST(SUM(length(rw.rewritten)) AS BIGINT) AS chars_after,
        |  md5(string_agg(rw.rewritten, ' <doc> ' ORDER BY rw.doc_id)) AS corpus_md5
        |FROM rw JOIN d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // ext: SymSpell-blocked fuzzy vocabulary matching — exact
    // edit-distance-1 pairs over the corpus vocabulary without an
    // all-pairs join (delete-1 variants as blocking keys, candidates
    // verified with codegen'd levenshtein). Typos are injected
    // deterministically (2nd char of the first token -> 'x' on id%37
    // docs) so the pair set is non-trivial at every scale factor.
    Query("q125_fuzzy_vocab", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val ft = element_at(split(lower(col("text")), " "), 1)
      val typos = docs
        .filter(col("doc_id") % 37 === 0 && length(ft) >= 3)
        .select(concat(substring(ft, 1, 1), lit("x"),
          ft.substr(lit(3), lit(Int.MaxValue - 10))).as("tok"))
      val pairs = graft.ext.Fuzzy.typoPairs(toks.union(typos), "tok")
      pairs.groupBy(substring(col("t1"), 1, 1).as("letter"))
        .agg(count(lit(1)).as("n_pairs"),
          min(concat_ws(">", col("t1"), col("t2"))).as("example"))
        .orderBy(col("letter"))
    }, oracleSql =
      // Full SymSpell replay: same tokenization + typo injection, delete-1
      // variant keys, verified levenshtein(=) pairs.
      raw"""WITH tk AS (
           |  SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
           |    x -> x <> '')) AS tok FROM documents
           |  UNION ALL
           |  SELECT substr(ft, 1, 1) || 'x' || substr(ft, 3, 1000000) AS tok
           |  FROM (SELECT string_split(lower(text), ' ')[1] AS ft, doc_id
           |        FROM documents)
           |  WHERE doc_id % 37 = 0 AND length(ft) >= 3),
           |v AS (SELECT DISTINCT tok FROM tk
           |      WHERE tok IS NOT NULL AND length(tok) > 0),
           |vars AS (SELECT tok, unnest(list_distinct(list_append(
           |    list_transform(range(1, length(tok) + 1),
           |      i -> substr(tok, 1, CAST(i - 1 AS INT))
           |           || substr(tok, CAST(i + 1 AS INT), 1000000)),
           |    tok))) AS vv FROM v),
           |p AS (SELECT DISTINCT a.tok AS t1, b.tok AS t2
           |      FROM vars a JOIN vars b ON a.vv = b.vv AND a.tok < b.tok
           |      WHERE levenshtein(a.tok, b.tok) <= 1)
           |SELECT substr(t1, 1, 1) AS letter, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  MIN(t1 || '>' || t2) AS example
           |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),

    // Deterministic corpus-trained subword tokenizer (GreedyPiece:
    // WordPiece-style greedy longest-match over a vocab of all corpus
    // characters + the 64 heaviest multi-char substrings) — the REAL
    // token counter for packing/mixing/shard budgets, replacing the
    // whitespace approximation. Training is relational over DISTINCT
    // words; encoding is one codegen'd kernel call per document; the
    // oracle re-derives the vocab AND every count bit-for-bit (the
    // recursive greedy match replayed as a recursive CTE).
    Query("q134_subword_tokens", Family.DedupText, (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val vocab = graft.ext.Subword.trainVocab(docs, "text",
        topMulti = 64, maxPieceLen = 5)
      val vchk = vocab.pieces.toSeq.toDF("piece").agg(
        count(lit(1)).cast("long").as("vocab_size"),
        sum(conv(substring(md5(col("piece")), 1, 12), 16, 10).cast("long")
          % 1000000).as("vocab_checksum"))
      docs.select(col("source"),
          TextAnalysis.tokenCount(col("text")).as("__ws"),
          graft.ext.Subword.tokenCount(col("text"), vocab).as("__sw"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__ws").cast("long")).as("ws_tokens"),
          sum(col("__sw").cast("long")).as("subword_tokens"))
        .crossJoin(broadcast(vchk))
        .orderBy(col("source"))
    }, oracleSql =
      // Full tokenizer replay: vocab = corpus chars + top-64 multi-char
      // substrings by (Σ word-freq weight DESC, piece ASC); encoding = the
      // greedy longest-match recursion over DISTINCT words, joined back to
      // word occurrences. Bit-identical counts prove the Spark kernel and
      // the SQL recursion implement the same tokenizer.
      raw"""WITH RECURSIVE
           |occ AS (SELECT source, unnest(list_filter(
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
           |agg AS (SELECT o.source, COUNT(*) AS ws_occ, SUM(c.cnt) AS sw
           |  FROM occ o JOIN wcnt c USING (w) GROUP BY o.source),
           |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           |  FROM documents GROUP BY source),
           |vs AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           |  CAST(SUM(('0x' || substr(md5(piece), 1, 12))::BIGINT % 1000000)
           |    AS BIGINT) AS vocab_checksum FROM vocab)
           |SELECT n.source, n.n_docs,
           |  CAST(coalesce(a.ws_occ, 0) AS BIGINT) AS ws_tokens,
           |  CAST(coalesce(a.sw, 0) AS BIGINT) AS subword_tokens,
           |  v.vocab_size, v.vocab_checksum
           |FROM nd n LEFT JOIN agg a USING (source), vs v
           |ORDER BY n.source""".stripMargin),

    // Incremental NEAR-dup ingest — q127's production shape upgraded from
    // exact fingerprints to Jaccard: the corpus's distinct-shingle keys
    // live in a TABLE (clustered by key at scale); each arriving batch
    // exact-dedups within itself, joins its keys against the admitted
    // key table, and is rejected when some admitted doc clears the
    // integer-exact Jaccard gate (inter·5 ≥ union·4 → ≥ 0.8) — identical
    // text across batches is a jaccard-1.0 special case of the same rule.
    // Admitted docs append their keys+sizes; the corpus is never
    // rescanned, so per-batch cost is batch keys + one key-clustered
    // join at ANY corpus size.
    Query("q143_incremental_neardup_ingest", Family.DedupText, (s, dir) => {
      import s.implicits._
      val store = Scratch.store(s)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), md5(col("text")).as("f"),
          (col("doc_id") % 3).as("batch"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("f").orderBy("doc_id")
      val out = (0L to 2L).map { b =>
        val inBatch = docs.filter(col("batch") === b)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "batch")
          .localCheckpoint() // reused: keys, reject anti-join, count
        val keysB = Dedup.shingleKeySets(inBatch, "doc_id", "text", n = 3)
          .localCheckpoint()
        val sizesB = keysB.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_keys"))
        val rejected =
          if (b == 0L) inBatch.select(col("doc_id")).limit(0)
          else Dedup.nearDupIdsAgainst(keysB, store.read("nd_keys"),
            sizesB, store.read("nd_sizes"), "doc_id", num = 4L, den = 5L)
            .localCheckpoint() // consumed by the anti-join AND the count
        val admitted = inBatch.join(rejected, Seq("doc_id"), "left_anti")
        val keysA = keysB.join(admitted.select("doc_id"), Seq("doc_id"),
          "left_semi")
        val sizesA = sizesB.join(admitted.select("doc_id"), Seq("doc_id"),
          "left_semi")
        if (b == 0L) {
          store.commit("nd_corpus", admitted.select("doc_id", "f"), "create")
          store.commit("nd_keys", keysA, "create")
          store.commit("nd_sizes", sizesA, "create")
        } else {
          store.append("nd_corpus", admitted.select("doc_id", "f"))
          store.append("nd_keys", keysA)
          store.append("nd_sizes", sizesA)
        }
        (b, inBatch.count(), rejected.count(),
          store.read("nd_corpus").count())
      }
      out.toDF("batch", "n_in", "n_rejected", "corpus_rows")
        .orderBy(col("batch"))
    }, oracleSql =
      // The three-batch admission unrolled: q31's shingle sets, the
      // integer Jaccard gate inter·5 ≥ union·4 against the admitted-so-far
      // set, sizes always from the full per-doc distinct-shingle counts.
      raw"""WITH d AS (SELECT doc_id, md5(text) AS f, doc_id % 3 AS batch,
           |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           |  FROM documents),
           |e AS (SELECT doc_id, batch, t FROM (
           |    SELECT *, row_number() OVER (PARTITION BY batch, f
           |      ORDER BY doc_id) AS rn FROM d) WHERE rn = 1),
           |sh AS (SELECT doc_id, batch, unnest(list_distinct(list_transform(
           |    range(1, greatest(len(t) - 2, 1) + 1),
           |    i -> array_to_string(t[i:i+2], ' ')))) AS s
           |  FROM e),
           |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |a0 AS (SELECT doc_id FROM e WHERE batch = 0),
           |r1 AS (SELECT DISTINCT p.id_b AS doc_id FROM (
           |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
           |    FROM sh a JOIN sh b ON a.s = b.s
           |    WHERE a.batch = 0 AND b.batch = 1
           |    GROUP BY 1, 2) p
           |  JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
           |  WHERE inter * 5 >= (x.n + y.n - inter) * 4),
           |a1 AS (SELECT doc_id FROM e WHERE batch = 1
           |  AND doc_id NOT IN (SELECT doc_id FROM r1)),
           |adm01 AS (SELECT doc_id FROM a0 UNION ALL SELECT doc_id FROM a1),
           |r2 AS (SELECT DISTINCT p.id_b AS doc_id FROM (
           |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
           |    FROM sh a JOIN sh b ON a.s = b.s
           |    WHERE b.batch = 2 AND a.doc_id IN (SELECT doc_id FROM adm01)
           |    GROUP BY 1, 2) p
           |  JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
           |  WHERE inter * 5 >= (x.n + y.n - inter) * 4),
           |a2 AS (SELECT doc_id FROM e WHERE batch = 2
           |  AND doc_id NOT IN (SELECT doc_id FROM r2)),
           |summ AS (
           |  SELECT 0 AS batch,
           |    (SELECT COUNT(*) FROM e WHERE batch = 0) AS n_in,
           |    0 AS n_rejected, (SELECT COUNT(*) FROM a0) AS adm
           |  UNION ALL SELECT 1,
           |    (SELECT COUNT(*) FROM e WHERE batch = 1),
           |    (SELECT COUNT(*) FROM r1), (SELECT COUNT(*) FROM a1)
           |  UNION ALL SELECT 2,
           |    (SELECT COUNT(*) FROM e WHERE batch = 2),
           |    (SELECT COUNT(*) FROM r2), (SELECT COUNT(*) FROM a2))
           |SELECT CAST(batch AS BIGINT) AS batch, CAST(n_in AS BIGINT) AS n_in,
           |  CAST(n_rejected AS BIGINT) AS n_rejected,
           |  CAST(SUM(adm) OVER (ORDER BY batch
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |    AS corpus_rows
           |FROM summ ORDER BY batch""".stripMargin),

    // Near-dup retention policy (q179) — collapse each near-dup cluster
    // to its BEST member (longest doc, ties by id) instead of q65's
    // min-id convention: the "keep the most complete copy" rule real
    // curation pipelines apply. The argmax window partitions by
    // component (cluster-sized, never corpus-sized); untouched documents
    // pass through via one anti-join.
    Query("q179_neardup_keep_best", Family.DedupText, (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val comp = Dedup.nearDupComponents(docs, "doc_id", "text",
        n = 3, threshold = 0.8)
      val w = Window.partitionBy(col("component"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val winners = comp
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1).select(col("doc_id"))
      val kept = docs
        .join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .unionByName(docs.join(winners, Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("n_chars")))
      kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars").cast("long")).as("kept_chars"))
        .orderBy(col("source"))
    }, oracleSql =
      // q65's component CTE, then one winner per component by
      // (n_chars DESC, id); untouched docs pass through.
      """WITH RECURSIVE toks AS (
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
        |win AS (SELECT id FROM (
        |    SELECT c.id, row_number() OVER (PARTITION BY c.component
        |      ORDER BY d.n_chars DESC, c.id) AS rk
        |    FROM comp c JOIN documents d ON c.id = d.doc_id) t
        |  WHERE rk = 1),
        |kept AS (SELECT doc_id FROM documents
        |    WHERE doc_id NOT IN (SELECT id FROM comp)
        |  UNION ALL SELECT id FROM win)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
        |FROM kept k JOIN documents d ON k.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
