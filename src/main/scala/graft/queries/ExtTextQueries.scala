package graft.queries

import graft.Tables
import graft.ext.{Hashing, Search, Stats, TextStats}
import org.apache.spark.sql.functions._


/** Text-analysis family: langid, quality, tokens, normalize,
  * redact, domains, rolling-hash, repetition, surprisal, quantiles,
  * TF-IDF/BM25/PMI/fuzzy search.
  *
  * Declared-query registry split out of the former monolithic
  * ExtQueries.scala (round 10, mechanical — blocks moved verbatim);
  * shared caps/CTE text/checksum helpers live in [[ExtShared]].
  */
object ExtTextQueries {

  val all: Seq[Declared] = Seq(

    // --- Text analysis ------------------------------------------------
    Declared(
      "ext_text_langid",
      (s, d) =>
        TextStats.withLangId(Tables.documents(s, d).select("lang", "text"), "text")
          .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
          .orderBy("lang", "predicted"),
      Some("""WITH s AS (SELECT lang,
                len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS en,
                len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que','y'))) AS es,
                len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','ist','das'))) AS de,
                len(list_filter(string_split(text,' '), x -> x IN ('le','la','et','les','des'))) AS fr
              FROM documents)
              SELECT lang, CASE
                WHEN en > 0 AND en >= es AND en >= de AND en >= fr THEN 'en'
                WHEN es > 0 AND es > en AND es >= de AND es >= fr THEN 'es'
                WHEN de > 0 AND de > en AND de > es AND de >= fr THEN 'de'
                WHEN fr > 0 AND fr > en AND fr > es AND fr > de THEN 'fr'
                ELSE 'und' END AS predicted, COUNT(*) AS n
              FROM s GROUP BY lang, predicted ORDER BY lang, predicted""")),

    Declared(
      "ext_text_quality",
      (s, d) =>
        TextStats.qualityFeatures(Tables.documents(s, d), "doc_id", "text")
          .groupBy("ttr_decile")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
          .orderBy("ttr_decile"),
      Some("""SELECT (len(list_distinct(string_split(text,' '))) * 10)
                       // len(string_split(text,' ')) AS ttr_decile,
                     COUNT(*) AS n_docs,
                     CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS sum_tokens
              FROM documents GROUP BY ttr_decile ORDER BY ttr_decile""")),

    Declared(
      "ext_text_tokens",
      (s, d) =>
        TextStats.tokenCounts(Tables.documents(s, d), "doc_id", "text")
          .groupBy(expr("n_ws_tokens div 10 * 10").as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_ws_tokens")).as("ws_tokens"),
            sum(col("n_subword_tokens")).as("subword_tokens"))
          .orderBy("bucket"),
      Some("""SELECT (len(string_split(text,' ')) // 10) * 10 AS bucket,
                     COUNT(*) AS n_docs,
                     CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS ws_tokens,
                     CAST(SUM(list_sum(list_transform(string_split(text,' '),
                       w -> CAST(ceil(len(w) / 4.0) AS INT)))) AS BIGINT) AS subword_tokens
              FROM documents GROUP BY bucket ORDER BY bucket""")),

    // Text normalization ([[TextStats.normalize]]): md5 checksums of
    // the canonical forms pin every output byte, so the oracle proves
    // the two engines' regex/lower/trim pipelines agree exactly.
    Declared(
      "ext_text_normalize",
      (s, d) =>
        Tables.documents(s, d)
          .select(TextStats.normalize(col("text")).as("nt"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("nt"))).as("len_sum"),
            sum(graft.functions.Md5Prefix.md5Prefix(col("nt"), 8))
              .as("md5_checksum")),
      Some("""SELECT COUNT(*) AS n_docs,
                     CAST(SUM(len(nt)) AS BIGINT) AS len_sum,
                     CAST(SUM(CAST('0x' || substr(md5(nt), 1, 8) AS BIGINT)) AS BIGINT)
                       AS md5_checksum
              FROM (SELECT trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
                    FROM documents)""")),

    // Markup → text extraction ([[TextStats.stripMarkup]]), the web
    // ingest front door: each document is entity-escaped and wrapped
    // in a REAL html skeleton Spark-side (head/style block, an h1
    // carrying its own text, a script block whose body contains a
    // bare `<` — the case where naive tag-stripping leaks `var x = 1`
    // into the corpus), then extracted back. The oracle never replays
    // the strip: it states the EXPECTED extraction directly from the
    // raw fixture text (title + collapsed body), so a green row pins
    // block removal, tag stripping, entity decode order (&amp; last),
    // and whitespace collapse against an independent statement of
    // what the text WAS. n_roundtrip = n_docs is the per-doc
    // exactness pin; the md5 checksum catches any compensating-error
    // pair.
    Declared(
      "ext_text_extract",
      (s, d) => {
        val html = concat(
          lit("<html><head><title></title><style>p{margin:0}</style></head>" +
            "<body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1>\n<p class=\"body\">"),
          TextStats.escapeMarkup(col("text")),
          lit("</p>\n<script>var x = 1 < 2;</script><br/></body></html>"))
        val want = concat(lit("Doc "), col("doc_id").cast("string"), lit(" "),
          trim(regexp_replace(col("text"), "\\s+", " ")))
        Tables.documents(s, d)
          .select(TextStats.stripMarkup(html).as("ex"), want.as("want"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("ex") === col("want"), 1L).otherwise(0L))
              .as("n_roundtrip"),
            sum(graft.functions.Md5Prefix.md5Prefix(col("ex"), 8))
              .as("md5_checksum"))
      },
      Some("""SELECT COUNT(*) AS n_docs,
                     COUNT(*) AS n_roundtrip,
                     CAST(SUM(CAST('0x' || substr(md5(ex), 1, 8) AS BIGINT)) AS BIGINT)
                       AS md5_checksum
              FROM (SELECT 'Doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
                      trim(regexp_replace(text, '\s+', ' ', 'g')) AS ex
                    FROM documents)""")),

    // PII redaction ([[TextStats.redactStats]]): the corpus is scrubbed
    // word-salad, so both engines synthesize the SAME dirty text per
    // doc (emails / dotted quads / long digit runs, plus boundary
    // torture cases: a leading-digit quad that forces backtracking
    // equivalence, "a@b" with no TLD, an 8-digit run one short of the
    // threshold). Match counts per rule + an md5 checksum of the
    // redacted bytes make the oracle a differential test of every
    // match boundary across Java regex and RE2.
    Declared(
      "ext_text_redact",
      (s, d) => {
        val dirty = concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example.com"),
          when(col("doc_id") % 3 === 0, lit(" cc ADMIN-1@ex.org")).otherwise(lit("")),
          lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0."),
          (col("doc_id") % 100).cast("string"),
          when(col("doc_id") % 2 === 0, lit(" via 1234.5.6.7")).otherwise(lit("")),
          lit(" ref 91"), lpad((col("doc_id") % 10000000).cast("string"), 7, "0"),
          lit(" v1.2.3 a@b x.y@z.co 12345678 123456789 end"))
        TextStats.redactStats(
            Tables.documents(s, d).select(col("doc_id"), dirty.as("text")),
            "doc_id", "text")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_email")).as("sum_emails"),
            sum(col("n_ipv4")).as("sum_ipv4"),
            sum(col("n_number")).as("sum_numbers"),
            sum(length(col("redacted"))).as("len_sum"),
            sum(graft.functions.Md5Prefix.md5Prefix(col("redacted"), 8))
              .as("md5_checksum"))
      },
      Some("""WITH s AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id || '@mail.example.com'
                       || CASE WHEN doc_id % 3 = 0 THEN ' cc ADMIN-1@ex.org' ELSE '' END
                       || ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
                       || CASE WHEN doc_id % 2 = 0 THEN ' via 1234.5.6.7' ELSE '' END
                       || ' ref 91' || lpad(CAST(doc_id % 10000000 AS VARCHAR), 7, '0')
                       || ' v1.2.3 a@b x.y@z.co 12345678 123456789 end' AS t
                FROM documents),
              r1 AS (
                SELECT doc_id,
                       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                       regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
                FROM s),
              r2 AS (
                SELECT doc_id, n_email,
                       len(regexp_extract_all(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ipv4,
                       regexp_replace(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS t
                FROM r1),
              r3 AS (
                SELECT doc_id, n_email, n_ipv4,
                       len(regexp_extract_all(t, '[0-9]{9,}')) AS n_number,
                       regexp_replace(t, '[0-9]{9,}', '<NUM>', 'g') AS t
                FROM r2)
              SELECT COUNT(*) AS n_docs,
                     CAST(SUM(n_email) AS BIGINT) AS sum_emails,
                     CAST(SUM(n_ipv4) AS BIGINT) AS sum_ipv4,
                     CAST(SUM(n_number) AS BIGINT) AS sum_numbers,
                     CAST(SUM(len(t)) AS BIGINT) AS len_sum,
                     CAST(SUM(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS BIGINT)
                       AS md5_checksum
              FROM r3""")),

    // Per-domain URL census ([[TextStats.urlDomains]]): same
    // synthesized-content discipline — every doc carries a
    // lang/source-derived domain, a shared CDN URL on a doc_id stride,
    // a same-domain duplicate on another stride (pinning n_urls vs
    // n_docs), a scheme-less host the pattern must NOT match, and a
    // trailing-dot host pinning greedy boundary behavior.
    Declared(
      "ext_text_domains",
      (s, d) => {
        val withUrls = concat(
          lit("see https://"), col("lang"), lit("-"), col("source"),
          lit(".example.org/p/"), col("doc_id").cast("string"),
          when(col("doc_id") % 4 === 0,
            lit(" plus http://cdn.example.net/x?y=1")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" dup https://"), col("lang"), lit("-"), col("source"),
              lit(".example.org/other"))).otherwise(lit("")),
          lit(" bare www.nope.com trail https://dot.example.org."))
        TextStats.urlDomains(
            Tables.documents(s, d).select(col("doc_id"), withUrls.as("text")),
            "doc_id", "text")
          .orderBy("domain")
      },
      Some("""WITH s AS (
                SELECT doc_id,
                       'see https://' || lang || '-' || source || '.example.org/p/' || doc_id
                       || CASE WHEN doc_id % 4 = 0 THEN ' plus http://cdn.example.net/x?y=1' ELSE '' END
                       || CASE WHEN doc_id % 5 = 0 THEN ' dup https://' || lang || '-' || source || '.example.org/other' ELSE '' END
                       || ' bare www.nope.com trail https://dot.example.org.' AS t
                FROM documents),
              u AS (
                SELECT doc_id, unnest(regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+')) AS url
                FROM s)
              SELECT regexp_replace(url, '^https?://', '') AS domain,
                     COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
              FROM u GROUP BY 1 ORDER BY domain""")),

    // URL canonicalization for crawl dedup ([[TextStats.canonicalUrl]]):
    // deterministic variant URLs synthesized per doc (the domains-row
    // pattern) — page 2k and 2k+1 carry the SAME resource as
    // `HTTPS://WWW.…:443/…/` vs `…?utm_source=feed&gclid=…` — must
    // collapse to one canonical key (n_canon = half n_raw per host),
    // while a kept non-tracking param survives in order. The canonical-
    // string checksum pins every byte of the rewrite on both engines.
    Declared(
      "ext_text_url_canon",
      (s, d) => {
        val page = expr("doc_id div 2").cast("string")
        val hostN = (expr("doc_id div 2") % 7).cast("string")
        val raw = when(col("doc_id") % 2 === 0,
          concat(lit("HTTPS://WWW.EX-"), hostN, lit(".EXAMPLE.ORG:443/p/"),
            page, lit("/")))
          .otherwise(concat(lit("https://ex-"), hostN, lit(".example.org/p/"),
            page, lit("?utm_source=feed&gclid="), col("doc_id").cast("string")))
        val extra = when(col("doc_id") % 4 === 0,
          concat(lit("http://keep.example.net/a?q="),
            (col("doc_id") % 5).cast("string"), lit("&utm_medium=x")))
        val urls = Tables.documents(s, d)
          .select(explode(array(raw, extra)).as("u"))
          .where(col("u").isNotNull)
        urls.withColumn("canon", TextStats.canonicalUrl(col("u")))
          .groupBy(regexp_extract(col("canon"), "://([^/?]+)", 1).as("host"))
          .agg(count(lit(1)).as("n_urls"),
            countDistinct(col("u")).as("n_raw"),
            countDistinct(col("canon")).as("n_canon"),
            sum(Hashing.h32(col("canon"))).as("canon_checksum"))
          .orderBy("host")
      },
      Some("""WITH r AS (
                SELECT CASE WHEN doc_id % 2 = 0 THEN
                         'HTTPS://WWW.EX-' || (doc_id // 2) % 7 || '.EXAMPLE.ORG:443/p/' || (doc_id // 2) || '/'
                       ELSE
                         'https://ex-' || (doc_id // 2) % 7 || '.example.org/p/' || (doc_id // 2) || '?utm_source=feed&gclid=' || doc_id
                       END AS u
                FROM documents
                UNION ALL
                SELECT 'http://keep.example.net/a?q=' || doc_id % 5 || '&utm_medium=x' AS u
                FROM documents WHERE doc_id % 4 = 0),
              p AS (
                SELECT u, regexp_replace(u, '#.*$', '') AS u2 FROM r),
              x AS (
                SELECT u,
                       lower(regexp_extract(u2, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
                       regexp_replace(regexp_replace(
                         lower(regexp_extract(u2, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                         '^www\.', ''), ':(80|443)$', '') AS hst,
                       regexp_extract(u2, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
                FROM p),
              y AS (
                SELECT u, sch, hst,
                       regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/$', '') AS pth,
                       list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
                         q -> NOT regexp_matches(q, '^(utm_|fbclid=|gclid=)') AND q <> '') AS kept
                FROM x),
              c AS (
                SELECT u,
                       CASE WHEN sch = '' OR hst = '' THEN u
                            ELSE sch || '://' || hst || pth ||
                                 CASE WHEN len(kept) > 0
                                      THEN '?' || array_to_string(kept, '&')
                                      ELSE '' END
                       END AS canon
                FROM y)
              SELECT regexp_extract(canon, '://([^/?]+)', 1) AS host,
                     COUNT(*) AS n_urls,
                     COUNT(DISTINCT u) AS n_raw,
                     COUNT(DISTINCT canon) AS n_canon,
                     CAST(SUM(CAST('0x' || substr(md5(canon), 1, 8) AS BIGINT)) AS BIGINT) AS canon_checksum
              FROM c GROUP BY 1 ORDER BY host""")),

    // Rolling-hash fingerprints: the oracle recomputes every k-byte
    // window NAIVELY (exact double polynomial, k=8·base=31 stays under
    // 2^53), so a hash match also cross-checks the O(n) rolling update
    // against the O(n·k) definition.
    Declared(
      "ext_text_rollhash",
      (s, d) =>
        TextStats.rollingFingerprints(Tables.documents(s, d), "doc_id", "text")
          .where(col("roll_fp").isNotNull)
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("roll_fp")).as("uniq_fp"),
            sum(col("roll_fp")).as("fp_checksum")),
      Some("""WITH pos AS (
                 SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS i
                 FROM documents WHERE len(text) >= 8),
               hv AS (
                 SELECT doc_id,
                        CAST(list_sum(list_transform(range(8), j ->
                          ascii(substr(text, CAST(i + j AS INT), 1)) * POW(31, 7 - j)))
                          AS BIGINT) % 1000000007 AS h
                 FROM pos),
               m AS (SELECT doc_id, MIN(h) AS fp FROM hv GROUP BY doc_id)
               SELECT COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS uniq_fp,
                      CAST(SUM(fp) AS BIGINT) AS fp_checksum
               FROM m""")),

    // Within-doc repetition histogram: docs bucketed by their repeated-
    // trigram decile ((total − distinct) · 10 div total) — the
    // boilerplate/spam gate. Identical md5-based trigram hashing on
    // both engines, so even hash collisions cannot diverge.
    Declared(
      "ext_text_repetition",
      (s, d) =>
        TextStats.repetitionStats(Tables.documents(s, d), "doc_id", "text")
          .withColumn("rep_decile",
            expr("((n_grams - n_distinct) * 10) div n_grams"))
          .groupBy("rep_decile")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_grams")).as("sum_grams"))
          .orderBy("rep_decile"),
      Some("""WITH g AS (
                SELECT doc_id, CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS h FROM (
                  SELECT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
                    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS g
                  FROM documents)),
              d AS (SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT h) AS n_distinct
                    FROM g GROUP BY doc_id)
              SELECT ((n_grams - n_distinct) * 10) // n_grams AS rep_decile,
                     COUNT(*) AS n_docs, CAST(SUM(n_grams) AS BIGINT) AS sum_grams
              FROM d GROUP BY rep_decile ORDER BY rep_decile""")),

    // Perplexity-style quality gate ([[TextStats.unigramSurprisal]]):
    // per-doc summed unigram surprisal under the corpus's own model —
    // the LM-filtering screen (low ≈ boilerplate, high ≈ garbled).
    // Surprisal is rounded to an exact e6-scaled BIGINT once per
    // DISTINCT word (one ln on identical doubles both engines, ~|V|
    // roundings instead of per-token; the e6 scale keeps ~9 digits of
    // margin between double ln error and the rounding boundary — an
    // e9 scale left the half-integer flip within a few ulps), then
    // sums associatively — the top-10 listing is fully integer with a
    // doc_id tie-break.
    Declared(
      "ext_text_surprisal",
      (s, d) =>
        TextStats.unigramSurprisal(Tables.documents(s, d), "doc_id", "text")
          .orderBy(desc("surprisal_e6"), asc("doc_id"))
          .limit(10),
      Some("""WITH w AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
              c AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
              n AS (SELECT COUNT(*) AS n FROM w),
              v AS (SELECT c.w,
                           CAST(round(ln(CAST(n.n AS DOUBLE) / c.c) * 1e6) AS BIGINT) AS sp
                    FROM c CROSS JOIN n),
              d AS (SELECT w.doc_id, COUNT(*) AS n_tokens,
                           CAST(SUM(v.sp) AS BIGINT) AS surprisal_e6
                    FROM w JOIN v USING (w) GROUP BY w.doc_id)
              SELECT doc_id, n_tokens, surprisal_e6 FROM d
              ORDER BY surprisal_e6 DESC, doc_id LIMIT 10""")),

    // Per-language token-count quantiles (corpus length profile — what
    // sets curation thresholds). Exact type-7 interpolation on BOTH
    // engines; ×100 integer projection is mathematically integral
    // (interpolation fractions are multiples of 0.01 for these p), so
    // the only float exposure is ~1e-12 summation noise vs a 0.5
    // rounding margin.
    Declared(
      "ext_text_quantiles",
      (s, d) => {
        val n = Tables.documents(s, d)
          .select(col("lang"), size(split(col("text"), " ")).as("n_tokens"))
        Stats.quantiles(n, Seq("lang"), col("n_tokens"), Seq(0.5, 0.9, 0.99))
          .select(col("lang"),
            expr("cast(round(p50 * 100) as bigint)").as("p50_x100"),
            expr("cast(round(p90 * 100) as bigint)").as("p90_x100"),
            expr("cast(round(p99 * 100) as bigint)").as("p99_x100"))
          .orderBy("lang")
      },
      Some("""SELECT lang,
                     CAST(round(quantile_cont(n, 0.5) * 100) AS BIGINT) AS p50_x100,
                     CAST(round(quantile_cont(n, 0.9) * 100) AS BIGINT) AS p90_x100,
                     CAST(round(quantile_cont(n, 0.99) * 100) AS BIGINT) AS p99_x100
              FROM (SELECT lang, len(string_split(text, ' ')) AS n FROM documents)
              GROUP BY lang ORDER BY lang""")),

    // TF-IDF distinctive terms ([[Search.topTerms]]): top-3 terms per
    // document for the doc_id < 20 panel, idf from the FULL corpus.
    // Output is integer/string only; the float score is compared
    // through round(·, 9) + term tie-break (the one cross-engine
    // hazard is ln's last ulp — a rounded-score tie resolves by term
    // on both engines).
    Declared(
      "ext_text_tfidf",
      (s, d) =>
        Search.topTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
          .where(col("doc_id") < 20)
          .orderBy("doc_id", "rk"),
      Some("""WITH t0 AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
              tf AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM t0
                WHERE term <> '' GROUP BY doc_id, term),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
              n AS (SELECT COUNT(*) AS n_docs FROM documents),
              sc AS (
                SELECT doc_id, term,
                       tf * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS tfidf
                FROM tf JOIN df USING (term) CROSS JOIN n),
              rk AS (
                SELECT doc_id, term,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY round(tfidf, 9) DESC, term) AS rk
                FROM sc)
              SELECT doc_id, rk, term FROM rk
              WHERE rk <= 3 AND doc_id < 20
              ORDER BY doc_id, rk""")),

    // BM25 search ([[Search.search]]): top-10 documents for a 3-term
    // query. k1=1.5, b=0.75 — chosen so every derived constant
    // (k1+1=2.5, 1−b=0.25) is an EXACT double and the oracle's
    // literals mean identical bits; the per-term partials add in fixed
    // literal order on both engines (no float SUM aggregation), so
    // only ln's last ulp differs — absorbed by round(·, 9) + doc_id
    // tie-break.
    Declared(
      "ext_text_bm25",
      (s, d) =>
        Search.search(Tables.documents(s, d), "doc_id", "text",
          Seq("merge", "vector", "window"), k = 10, k1 = 1.5, b = 0.75),
      Some("""WITH base AS (
                SELECT doc_id,
                       len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl,
                       string_split(text, ' ') AS toks
                FROM documents),
              corpus AS (
                SELECT COUNT(*) AS n_docs,
                       CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
                FROM base),
              tf AS (
                SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
                  SELECT doc_id, dl, unnest(toks) AS term FROM base)
                WHERE term IN ('merge', 'vector', 'window')
                GROUP BY doc_id, dl, term),
              df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
              sc AS (
                SELECT doc_id, tf.term,
                       ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
                         * (tf * CAST(2.5 AS DOUBLE))
                         / (tf + CAST(1.5 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl)) AS s
                FROM tf JOIN df USING (term) CROSS JOIN corpus),
              byDoc AS (
                SELECT doc_id,
                       MAX(CASE WHEN term = 'merge' THEN s END) AS s0,
                       MAX(CASE WHEN term = 'vector' THEN s END) AS s1,
                       MAX(CASE WHEN term = 'window' THEN s END) AS s2,
                       COUNT(*) AS n_matched
                FROM sc GROUP BY doc_id),
              scored AS (
                SELECT doc_id, n_matched,
                       COALESCE(s0, CAST(0 AS DOUBLE)) + COALESCE(s1, CAST(0 AS DOUBLE))
                         + COALESCE(s2, CAST(0 AS DOUBLE)) AS score
                FROM byDoc),
              rk AS (
                SELECT doc_id, n_matched,
                       ROW_NUMBER() OVER (ORDER BY round(score, 9) DESC, doc_id) AS rk
                FROM scored)
              SELECT rk, doc_id, n_matched FROM rk WHERE rk <= 10 ORDER BY rk""")),

    // PMI collocations ([[Search.pmiPairs]]): top-20 term pairs by
    // document-co-occurrence pointwise mutual information. The
    // co-occurrence count comes from the posting-list self-join on
    // doc_id (Σ v² per doc, df-bounded); ln's argument is one division
    // of exact integer products, rank pinned by round(·,9) +
    // lexicographic tie-break.
    Declared(
      "ext_text_pmi",
      (s, d) =>
        Search.pmiPairs(Tables.documents(s, d), "doc_id", "text",
          k = 20, minDf = 2),
      Some("""WITH p AS (
                SELECT DISTINCT doc_id, w AS term FROM (
                  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
                WHERE w <> ''),
              df AS (
                SELECT term, COUNT(*) AS df FROM p
                GROUP BY term HAVING COUNT(*) >= 2),
              p2 AS (SELECT p.doc_id, p.term, df.df FROM p JOIN df USING (term)),
              pr AS (
                SELECT a.term AS t1, b.term AS t2,
                       a.df AS df1, b.df AS df2, COUNT(*) AS c_ab
                FROM p2 a JOIN p2 b
                  ON a.doc_id = b.doc_id AND a.term < b.term
                GROUP BY 1, 2, 3, 4),
              n AS (SELECT COUNT(*) AS n_docs FROM documents),
              sc AS (
                SELECT t1, t2, c_ab,
                       ln(CAST(n_docs * c_ab AS DOUBLE) / CAST(df1 * df2 AS DOUBLE)) AS pmi
                FROM pr CROSS JOIN n),
              rk AS (
                SELECT t1, t2, c_ab,
                       ROW_NUMBER() OVER (ORDER BY round(pmi, 9) DESC, t1, t2) AS rk
                FROM sc)
              SELECT rk, t1, t2, c_ab FROM rk WHERE rk <= 20 ORDER BY rk""")),

    // Fuzzy probe→vocabulary matching ([[Search.fuzzyVocabMatch]]):
    // spell-correction over the corpus vocabulary by Levenshtein ≤ 2
    // with length-band blocking, candidates ranked by document
    // frequency. Both engines implement the identical DP distance, so
    // the full match set is exact; one probe ("zzz") is a deliberate
    // no-match pinning that blocking prunes rather than fabricates.
    Declared(
      "ext_text_fuzzy",
      (s, d) =>
        Search.fuzzyVocabMatch(Tables.documents(s, d), "doc_id", "text",
            Seq("joni", "tabel", "vectr", "qery", "zzz"), maxDist = 2)
          .orderBy("probe", "dist", "term"),
      Some("""WITH p AS (
                SELECT DISTINCT doc_id, w AS term FROM (
                  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
                WHERE w <> ''),
              vocab AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
              probes AS (
                SELECT unnest(['joni', 'tabel', 'vectr', 'qery', 'zzz']) AS probe)
              SELECT probe, levenshtein(term, probe) AS dist, term, df
              FROM vocab CROSS JOIN probes
              WHERE abs(len(term) - len(probe)) <= 2
                AND levenshtein(term, probe) <= 2
              ORDER BY probe, dist, term""")),

    // Distributed BPE tokenizer TRAINING ([[graft.ext.Bpe.train]]):
    // 8 classic merges over the corpus's ASCII-lowercase word-
    // frequency table — the corpus is scanned ONCE, every iteration
    // runs on the Heaps-bounded vocabulary (pair explode + argmax +
    // codegen'd greedy-leftmost fold rewrite; see Bpe's scaladoc for
    // the batched-merges production variant). Gated rows: each step's
    // (left, right, count) — the oracle independently replays all 8
    // stages in SQL, expressing greedy leftmost as run-parity over
    // match positions (adjacent matches only arise for a self-pair
    // (x,x); alternate positions of the run merge) — plus a step=-1
    // fingerprint of the FINAL symbol table (freq-weighted md5 of
    // every word's symbol sequence) and a step=-2 vocabulary
    // cardinality, so the applications of the merges are pinned, not
    // just their selection.
    Declared(
      "ext_text_bpe",
      (s, d) => {
        val res = graft.ext.Bpe.train(Tables.documents(s, d), "text",
          steps = 8, cacheTag = "bpe/docs8")
        import s.implicits._
        val mergeRows = res.merges.zipWithIndex
          .map { case (m, i) => (i + 1L, m.left, m.right, m.count) }
          .toDF("step", "left_sym", "right_sym", "n")
        val fin = res.vocab.agg(
          (sum((col("freq") * (Hashing.h32(col("sym")) % ChkP)) % ChkP)
            % ChkP).as("cs"),
          count(lit(1)).as("nw"))
        mergeRows
          .unionByName(fin.select(lit(-1L).as("step"), lit("").as("left_sym"),
            lit("").as("right_sym"), col("cs").as("n")))
          .unionByName(fin.select(lit(-2L).as("step"), lit("").as("left_sym"),
            lit("").as("right_sym"), col("nw").as("n")))
          .orderBy("step")
      },
      Some(bpeOracle(8))),

    // BATCHED BPE training ([[graft.ext.Bpe.trainBatched]]) — the
    // production round-count fix for the sequential trainer above:
    // each round selects the top-m LOCALLY-MAXIMAL pairs (no
    // conflicting higher-priority pair; conflict = shared symbol
    // among {left, right, merged}) and applies them in ONE vocab
    // rewrite, so training is O(merges/m) driver rounds instead of
    // O(merges). Locally-maximal pairs are pairwise-disjoint, hence
    // the batch commutes and one multi-rule greedy-leftmost fold
    // equals any sequential order. Gated rows: every applied merge's
    // (round, in-round rank, left, right, count) — the oracle
    // independently replays the selection (symbol equi-join dominance
    // + anti-join + top-m) AND the multi-rule rewrite per round —
    // plus the step=-1 final-symbol-table fingerprint and step=-2
    // vocab cardinality, exactly as the sequential gate.
    Declared(
      "ext_text_bpe_batched",
      (s, d) => {
        val res = graft.ext.Bpe.trainBatched(Tables.documents(s, d), "text",
          rounds = 3, maxPerRound = 4, cacheTag = "bpeb/docs34")
        import s.implicits._
        val mergeRows = res.merges
          .map(b => (b.round.toLong, b.rank.toLong, b.merge.left,
            b.merge.right, b.merge.count))
          .toDF("round", "rk", "left_sym", "right_sym", "n")
        val fin = res.vocab.agg(
          (sum((col("freq") * (Hashing.h32(col("sym")) % ChkP)) % ChkP)
            % ChkP).as("cs"),
          count(lit(1)).as("nw"))
        mergeRows
          .unionByName(fin.select(lit(-1L).as("round"), lit(0L).as("rk"),
            lit("").as("left_sym"), lit("").as("right_sym"),
            col("cs").as("n")))
          .unionByName(fin.select(lit(-2L).as("round"), lit(0L).as("rk"),
            lit("").as("left_sym"), lit("").as("right_sym"),
            col("nw").as("n")))
          .orderBy("round", "rk")
      },
      Some(bpeBatchedOracle(3, 4)))
  )

  // a def, not a val: `val all` initializes first and a later val
  // would still read 0 inside the registry
  private def ChkP = 1000000007L

  /** Generated DuckDB replay of [[graft.ext.Bpe.train]]: `v0` is the
    * char-split word-frequency table; each stage computes adjacent-
    * pair counts (lockstep unnest of the two shifted slices), picks
    * the (count desc, pair asc) argmax, and rewrites every word by
    * the run-parity formulation of greedy leftmost — match positions
    * group into runs (adjacent matches only occur for self-pairs),
    * and odd-ranked members of each run merge, their right neighbor
    * skipped. Generating the stages keeps 8 copies honest by
    * construction.
    */
  private def bpeOracle(steps: Int): String = {
    def stage(i: Int): String = {
      val pv = s"v${i - 1}"
      s"""p$i AS MATERIALIZED (
            SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
              SELECT freq,
                     unnest(list_slice(l, 1, len(l) - 1)) AS a,
                     unnest(list_slice(l, 2, len(l))) AS b
              FROM (SELECT freq, string_split(sym, ' ') AS l FROM $pv))
            GROUP BY a, b),
          b$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
          e$i AS (
            SELECT word, freq,
                   unnest(string_split(sym, ' ')) AS s,
                   unnest(range(len(string_split(sym, ' ')))) AS pos
            FROM $pv),
          n$i AS (
            SELECT word, freq, pos, s,
                   LEAD(s) OVER (PARTITION BY word ORDER BY pos) AS ns
            FROM e$i),
          m$i AS (
            SELECT word, freq, pos, s, ns,
                   COALESCE(s = (SELECT a FROM b$i)
                            AND ns = (SELECT b FROM b$i), FALSE) AS mt
            FROM n$i),
          g$i AS (
            SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, mt
                     ORDER BY pos) AS grp
            FROM m$i),
          r$i AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY word, mt, grp
                     ORDER BY pos) AS mrn
            FROM g$i),
          o$i AS (
            SELECT word, freq, pos, s, ns,
                   mt AND mrn % 2 = 1 AS merged,
                   COALESCE(LAG(mt AND mrn % 2 = 1)
                     OVER (PARTITION BY word ORDER BY pos), FALSE) AS prevm
            FROM r$i),
          v$i AS MATERIALIZED (
            SELECT word, freq,
                   string_agg(CASE WHEN merged THEN s || ns
                                   WHEN prevm THEN NULL
                                   ELSE s END, ' ' ORDER BY pos) AS sym
            FROM o$i GROUP BY word, freq)"""
    }
    val finals = (1 to steps).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS step, a AS left_sym, b AS right_sym,
                 cnt AS n FROM b$i""").mkString("\nUNION ALL\n")
    s"""WITH w0 AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents)
          WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word),
        v0 AS MATERIALIZED (
          SELECT word, freq,
                 array_to_string(regexp_extract_all(word, '.'), ' ') AS sym
          FROM w0),
        ${(1 to steps).map(stage).mkString(",\n")}
        $finals
        UNION ALL
        SELECT CAST(-1 AS BIGINT), '', '',
               CAST(SUM((freq * (CAST('0x' || substr(md5(sym), 1, 8) AS BIGINT)
                                 % $ChkP)) % $ChkP) % $ChkP AS BIGINT)
        FROM v$steps
        UNION ALL
        SELECT CAST(-2 AS BIGINT), '', '', (SELECT COUNT(*) FROM v$steps)
        ORDER BY step"""
  }

  /** Generated DuckDB replay of [[graft.ext.Bpe.trainBatched]]: per
    * round, pair counts as in [[bpeOracle]], then the BATCH selection
    * — each pair explodes into its ≤3 symbols (left, right, merged),
    * a symbol equi-join marks pairs DOMINATED by a conflicting
    * higher-priority pair, the anti-joined survivors rank by (count
    * desc, pair asc) and the top `m` form the round's batch — and the
    * multi-rule rewrite: the run-parity greedy-leftmost formulation of
    * [[bpeOracle]] with the match flag computed by a LEFT JOIN against
    * the batch instead of a scalar subquery (disjointness guarantees
    * at most one rule matches an adjacency, and adjacent matches still
    * only arise from a self-pair, so run parity is unchanged).
    */
  private def bpeBatchedOracle(rounds: Int, m: Int): String = {
    def stage(i: Int): String = {
      val pv = s"v${i - 1}"
      s"""p$i AS MATERIALIZED (
            SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
              SELECT freq,
                     unnest(list_slice(l, 1, len(l) - 1)) AS a,
                     unnest(list_slice(l, 2, len(l))) AS b
              FROM (SELECT freq, string_split(sym, ' ') AS l FROM $pv))
            GROUP BY a, b),
          sy$i AS (SELECT a, b, cnt, unnest([a, b, a || b]) AS sym FROM p$i),
          dm$i AS (
            SELECT DISTINCT x.a, x.b
            FROM sy$i x JOIN sy$i y ON x.sym = y.sym
             AND NOT (x.a = y.a AND x.b = y.b)
             AND (y.cnt > x.cnt OR (y.cnt = x.cnt
                  AND (y.a < x.a OR (y.a = x.a AND y.b < x.b))))),
          b$i AS MATERIALIZED (
            SELECT a, b, cnt, rk FROM (
              SELECT sv.a, sv.b, sv.cnt,
                     ROW_NUMBER() OVER (ORDER BY sv.cnt DESC, sv.a, sv.b) AS rk
              FROM (SELECT p.a, p.b, p.cnt FROM p$i p
                    ANTI JOIN dm$i d ON p.a = d.a AND p.b = d.b) sv)
            WHERE rk <= $m),
          e$i AS (
            SELECT word, freq,
                   unnest(string_split(sym, ' ')) AS s,
                   unnest(range(len(string_split(sym, ' ')))) AS pos
            FROM $pv),
          n$i AS (
            SELECT word, freq, pos, s,
                   LEAD(s) OVER (PARTITION BY word ORDER BY pos) AS ns
            FROM e$i),
          m$i AS (
            SELECT nn.word, nn.freq, nn.pos, nn.s, nn.ns,
                   (sel.a IS NOT NULL) AS mt
            FROM n$i nn LEFT JOIN b$i sel ON nn.s = sel.a AND nn.ns = sel.b),
          g$i AS (
            SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, mt
                     ORDER BY pos) AS grp
            FROM m$i),
          r$i AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY word, mt, grp
                     ORDER BY pos) AS mrn
            FROM g$i),
          o$i AS (
            SELECT word, freq, pos, s, ns,
                   mt AND mrn % 2 = 1 AS merged,
                   COALESCE(LAG(mt AND mrn % 2 = 1)
                     OVER (PARTITION BY word ORDER BY pos), FALSE) AS prevm
            FROM r$i),
          v$i AS MATERIALIZED (
            SELECT word, freq,
                   string_agg(CASE WHEN merged THEN s || ns
                                   WHEN prevm THEN NULL
                                   ELSE s END, ' ' ORDER BY pos) AS sym
            FROM o$i GROUP BY word, freq)"""
    }
    val finals = (1 to rounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS round, CAST(rk AS BIGINT) AS rk,
                 a AS left_sym, b AS right_sym, cnt AS n FROM b$i""")
      .mkString("\nUNION ALL\n")
    s"""WITH w0 AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents)
          WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word),
        v0 AS MATERIALIZED (
          SELECT word, freq,
                 array_to_string(regexp_extract_all(word, '.'), ' ') AS sym
          FROM w0),
        ${(1 to rounds).map(stage).mkString(",\n")}
        $finals
        UNION ALL
        SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), '', '',
               CAST(SUM((freq * (CAST('0x' || substr(md5(sym), 1, 8) AS BIGINT)
                                 % $ChkP)) % $ChkP) % $ChkP AS BIGINT)
        FROM v$rounds
        UNION ALL
        SELECT CAST(-2 AS BIGINT), CAST(0 AS BIGINT), '', '',
               (SELECT COUNT(*) FROM v$rounds)
        ORDER BY round, rk"""
  }
}
