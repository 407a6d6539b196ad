package graft.queries

import graft.Tables
import graft.ext.{Curation, Hashing, PlanCache, Sampling}
import org.apache.spark.sql.functions._

import ExtShared._

/** Pipeline family: end-to-end curation, packing, decontam,
  * shard export, Z-order, compaction, k-anonymity, global ids,
  * chunking, concat.
  *
  * Declared-query registry split out of the former monolithic
  * ExtQueries.scala (round 10, mechanical — blocks moved verbatim);
  * the corpus-versioning rows moved on to [[ExtVersionQueries]] in
  * round 12 and the sampling rows to [[ExtSamplingQueries]] in
  * round 13 (same discipline). Shared caps/CTE text/checksum helpers
  * live in [[ExtShared]].
  */
object ExtPipelineQueries {

  val all: Seq[Declared] = Seq(

    // --- End-to-end curation pipeline ---------------------------------
    // The capstone composition ([[graft.ext.Curation]]): language gate
    // → quality gate → exact dedup → LSH near-dedup (verified pairs +
    // degenerate clusters), emitted as one row of per-stage attrition
    // counts plus id/token checksums of the FINAL corpus — the
    // checksums pin exactly WHICH documents survive, so the oracle
    // verifies the whole pipeline end to end, not just cardinalities.
    Declared(
      "ext_pipeline_curation",
      (s, d) => {
        val c = Curation.curate(Tables.documents(s, d), "doc_id", "text")
        c.gateStats
          .crossJoin(c.exactKept.agg(count(lit(1)).as("n_exact")))
          .crossJoin(c.nearDupPairs.agg(count(lit(1)).as("n_near_pairs")))
          .crossJoin(c.finalDocs.agg(count(lit(1)).as("n_final"),
            sum(col("doc_id")).as("id_checksum"),
            sum(col("n_tokens")).as("token_checksum")))
      },
      Some(s"""WITH $curationCoreCte,
               neardrop AS (
                 SELECT DISTINCT doc_b AS doc_id FROM ver
                 UNION SELECT doc_id FROM bigc),
               fin AS (SELECT s.* FROM surv s ANTI JOIN neardrop d ON s.doc_id = d.doc_id)
               SELECT
                 (SELECT COUNT(*) FROM documents) AS n_input,
                 (SELECT COUNT(*) FROM lang_kept) AS n_lang,
                 (SELECT COUNT(*) FROM qual_kept) AS n_quality,
                 (SELECT COUNT(*) FROM surv) AS n_exact,
                 (SELECT COUNT(*) FROM ver) AS n_near_pairs,
                 COUNT(*) AS n_final,
                 CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
                 CAST(SUM(n_tokens) AS BIGINT) AS token_checksum
               FROM fin""")),

    // The same end-to-end pipeline under the QUALITY survivor policy
    // (curate(qualitySurvivor = true), [[Dedup.keepCanonical]]
    // composed into [[Curation.curate]]): verified pairs close into
    // duplicate classes and each class keeps its highest-n_tokens
    // member (ties → min id) — "keep the best copy" — instead of the
    // single-pass min-id policy. Same audit projection, so the two
    // rows diff directly: n_final may differ from the pair policy's
    // both ways (chains collapse to ONE survivor; the survivor is no
    // longer necessarily doc_a). The oracle replays the closure with
    // a recursive CTE and the survivor argmax with a max-quality
    // join-back.
    Declared(
      "ext_pipeline_curation_quality",
      (s, d) => {
        val c = Curation.curate(Tables.documents(s, d), "doc_id", "text",
          qualitySurvivor = true)
        c.gateStats
          .crossJoin(c.exactKept.agg(count(lit(1)).as("n_exact")))
          .crossJoin(c.nearDupPairs.agg(count(lit(1)).as("n_near_pairs")))
          .crossJoin(c.finalDocs.agg(count(lit(1)).as("n_final"),
            sum(col("doc_id")).as("id_checksum"),
            sum(col("n_tokens")).as("token_checksum")))
      },
      Some(s"""WITH RECURSIVE $curationCoreCte,
               edges AS (
                 SELECT doc_a AS a, doc_b AS b FROM ver
                 UNION SELECT doc_b, doc_a FROM ver),
               reach(node, label) AS (
                 SELECT a, a FROM edges
                 UNION
                 SELECT e.b, r.label FROM reach r
                 JOIN edges e ON e.a = r.node WHERE r.label < e.b),
               cc AS (SELECT node, MIN(label) AS comp FROM reach GROUP BY node),
               lab AS (
                 SELECT s.doc_id, s.n_tokens, cc.comp
                 FROM surv s JOIN cc ON s.doc_id = cc.node),
               mx AS (SELECT comp, MAX(n_tokens) AS mq FROM lab GROUP BY comp),
               keepq AS (
                 SELECT l.comp, MIN(l.doc_id) AS kid
                 FROM lab l JOIN mx ON l.comp = mx.comp AND l.n_tokens = mx.mq
                 GROUP BY l.comp),
               neardrop AS (
                 SELECT cc.node AS doc_id FROM cc
                 ANTI JOIN keepq ON cc.node = keepq.kid
                 UNION SELECT doc_id FROM bigc),
               fin AS (SELECT s.* FROM surv s ANTI JOIN neardrop d ON s.doc_id = d.doc_id)
               SELECT
                 (SELECT COUNT(*) FROM documents) AS n_input,
                 (SELECT COUNT(*) FROM lang_kept) AS n_lang,
                 (SELECT COUNT(*) FROM qual_kept) AS n_quality,
                 (SELECT COUNT(*) FROM surv) AS n_exact,
                 (SELECT COUNT(*) FROM ver) AS n_near_pairs,
                 COUNT(*) AS n_final,
                 CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
                 CAST(SUM(n_tokens) AS BIGINT) AS token_checksum
               FROM fin""")),

    // Sequence packing census: documents pack into ~2048-token training
    // bins per language (contiguous by doc_id — the "concat the shard,
    // chop every budget" assignment). Per-lang bin counts, the heaviest
    // bin, and a bin-weighted checksum pin every assignment.
    Declared(
      "ext_pipeline_pack",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).as("n_tokens"))
        Sampling.packBins(docs, Seq("lang"), col("doc_id"), col("n_tokens"),
            budget = 2048)
          .groupBy("lang", "bin")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("load"),
            sum(col("doc_id") * (col("bin") + 1)).as("ck"))
          .groupBy("lang")
          .agg(countDistinct(col("bin")).as("n_bins"),
            sum(col("n_docs")).as("n_docs"),
            max(col("load")).as("max_bin_tokens"),
            sum(col("ck")).as("assign_checksum"))
          .orderBy("lang")
      },
      Some("""WITH t AS (
                SELECT lang, doc_id, len(string_split(text, ' ')) AS n FROM documents),
              b AS (
                SELECT lang, doc_id, n,
                  CAST((SUM(n) OVER (PARTITION BY lang ORDER BY doc_id) - n) // 2048 AS BIGINT) AS bin
                FROM t),
              pb AS (
                SELECT lang, bin, COUNT(*) AS n_docs, SUM(n) AS load,
                       SUM(doc_id * (bin + 1)) AS ck
                FROM b GROUP BY lang, bin)
              SELECT lang, COUNT(DISTINCT bin) AS n_bins,
                     CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                     CAST(MAX(load) AS BIGINT) AS max_bin_tokens,
                     CAST(SUM(ck) AS BIGINT) AS assign_checksum
              FROM pb GROUP BY lang ORDER BY lang""")),

    // Eval-set decontamination: the eval slice is a deterministic 5%
    // hash sample; training docs sharing any word 8-gram with it are
    // dropped. The oracle matches on raw n-gram STRINGS while Spark
    // matches 64-bit xxhash64 gram hashes (never building gram
    // strings at all) — a hash-collision mismatch would surface here
    // as a checksum diff, so the green row also bounds collision
    // over-dropping at this scale. Remaining Spark-vs-DuckDB gap at
    // sf0.1 is per-stage launch overhead (the same plan's core is
    // sub-second warm), not plan cost.
    Declared(
      "ext_pipeline_decontam",
      (s, d) => {
        val b = Tables.documents(s, d)
          .withColumn("__eb", Sampling.hashBucket(col("doc_id"), 100, "eval"))
        val ev = b.where(col("__eb") < 5).select("doc_id", "text")
        val tr = b.where(col("__eb") >= 5).select("doc_id", "text")
        val clean = Curation.decontaminate(tr, "doc_id", "text", ev, "text", n = 8)
        b.agg(sum(when(col("__eb") >= 5, 1L).otherwise(0L)).as("n_train"),
            sum(when(col("__eb") < 5, 1L).otherwise(0L)).as("n_eval"))
          .crossJoin(clean.agg(count(lit(1)).as("n_clean"),
            sum(col("doc_id")).as("id_checksum")))
      },
      Some("""WITH b AS (
                SELECT doc_id, text,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'eval'), 1, 8) AS BIGINT) % 100 AS eb
                FROM documents),
              ev AS (SELECT doc_id, text FROM b WHERE eb < 5),
              tr AS (SELECT doc_id, text FROM b WHERE eb >= 5),
              evg AS (
                SELECT DISTINCT unnest(list_transform(range(1, len(string_split(text,' ')) - 6),
                  i -> array_to_string(string_split(text,' ')[i:i+7], ' '))) AS g
                FROM ev),
              trg AS (
                SELECT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 6),
                  i -> array_to_string(string_split(text,' ')[i:i+7], ' '))) AS g
                FROM tr),
              contam AS (SELECT DISTINCT doc_id FROM trg JOIN evg USING (g)),
              clean AS (SELECT t.* FROM tr t ANTI JOIN contam c ON t.doc_id = c.doc_id)
              SELECT (SELECT COUNT(*) FROM tr) AS n_train,
                     (SELECT COUNT(*) FROM ev) AS n_eval,
                     COUNT(*) AS n_clean,
                     CAST(SUM(doc_id) AS BIGINT) AS id_checksum
              FROM clean""")),

    // The 100 TB decontamination default: the eval gram set folds
    // into ONE Bloom filter (bounded bytes, independent of corpus
    // size) and train grams probe it map-side — no broadcast join,
    // no shuffle of the train side. The error contract is one-sided
    // (might_contain has NO false negatives, so every exactly-
    // contaminated doc is dropped; false positives over-drop at the
    // realized fpp). Here the filter is sized at 1M capacity for a
    // ~12k-gram eval set, so the realized per-probe fpp is ~(k·m/bits)^k
    // ≈ 1e-21 — over-dropping a single clean doc is a ~1e-16 event,
    // which is why the oracle can assert the bloom clean set EQUALS
    // the exact string-matched one (same SQL twin as
    // ext_pipeline_decontam; the sketch build itself is work the
    // oracle side never does). A genuine false positive would surface
    // loudly as a row/checksum diff.
    Declared(
      "ext_pipeline_decontam_bloom",
      (s, d) => {
        val b = Tables.documents(s, d)
          .withColumn("__eb", Sampling.hashBucket(col("doc_id"), 100, "eval"))
        val ev = b.where(col("__eb") < 5).select("doc_id", "text")
        val tr = b.where(col("__eb") >= 5).select("doc_id", "text")
        val clean = Curation.decontaminateBloom(tr, "doc_id", "text", ev, "text",
          n = 8, expectedItems = 1000000L, fpp = 0.001)
        b.agg(sum(when(col("__eb") >= 5, 1L).otherwise(0L)).as("n_train"),
            sum(when(col("__eb") < 5, 1L).otherwise(0L)).as("n_eval"))
          .crossJoin(clean.agg(count(lit(1)).as("n_clean"),
            sum(col("doc_id")).as("id_checksum")))
      },
      Some("""WITH b AS (
                SELECT doc_id, text,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'eval'), 1, 8) AS BIGINT) % 100 AS eb
                FROM documents),
              ev AS (SELECT doc_id, text FROM b WHERE eb < 5),
              tr AS (SELECT doc_id, text FROM b WHERE eb >= 5),
              evg AS (
                SELECT DISTINCT unnest(list_transform(range(1, len(string_split(text,' ')) - 6),
                  i -> array_to_string(string_split(text,' ')[i:i+7], ' '))) AS g
                FROM ev),
              trg AS (
                SELECT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 6),
                  i -> array_to_string(string_split(text,' ')[i:i+7], ' '))) AS g
                FROM tr),
              contam AS (SELECT DISTINCT doc_id FROM trg JOIN evg USING (g)),
              clean AS (SELECT t.* FROM tr t ANTI JOIN contam c ON t.doc_id = c.doc_id)
              SELECT (SELECT COUNT(*) FROM tr) AS n_train,
                     (SELECT COUNT(*) FROM ev) AS n_eval,
                     COUNT(*) AS n_clean,
                     CAST(SUM(doc_id) AS BIGINT) AS id_checksum
              FROM clean""")),

    // SEMANTIC decontamination ([[Curation.decontaminateEmbedding]]):
    // the paraphrase-contamination pass — train rows whose EMBEDDING
    // lands in an eval vector's LSH bucket (any of 4 tables) and
    // verifies at quantized cosine >= 0.3 are dropped. The oracle
    // regenerates the same md5-derived buckets in SQL (the shared
    // bucket CTE ext_dedup_embedding pins) and replays
    // candidates -> verify -> anti-join; the kept-id checksum pins
    // exactly which rows survive.
    Declared(
      "ext_pipeline_decontam_embedding",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val ev = emb.where(col("vec_id") % 20 === 0)
        val tr = emb.where(col("vec_id") % 20 =!= 0)
        val kept = Curation.decontaminateEmbedding(tr, "vec_id", "embedding",
          ev, "vec_id", "embedding", minCos = 0.3)
        tr.agg(count(lit(1)).as("n_train")).crossJoin(
          kept.agg(count(lit(1)).as("n_kept"),
            sum(col("vec_id")).as("kept_checksum")))
      },
      Some(s"""WITH $lshBuckCte,
               cand AS (
                 SELECT DISTINCT x.vec_id AS tid, y.vec_id AS evid
                 FROM buck x JOIN buck y
                   ON x.tbl = y.tbl AND x.bucket = y.bucket
                 WHERE x.vec_id % 20 <> 0 AND y.vec_id % 20 = 0),
               contam AS (
                 SELECT DISTINCT tid FROM cand
                 JOIN embeddings ea ON ea.vec_id = tid
                 JOIN embeddings eb ON eb.vec_id = evid
                 WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 9) >= 0.3),
               kept AS (
                 SELECT vec_id FROM embeddings
                 WHERE vec_id % 20 <> 0
                   AND vec_id NOT IN (SELECT tid FROM contam))
               SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id % 20 <> 0) AS n_train,
                      COUNT(*) AS n_kept,
                      CAST(SUM(vec_id) AS BIGINT) AS kept_checksum
               FROM kept""")),

    // Shard-export census ([[Curation.exportShards]]): the corpus is
    // actually WRITTEN as a hive-partitioned training layout
    // (lang=<l>/ dirs, 2 deterministic hash shards per dir, files
    // internally sorted) into a temp dir, then read back through the
    // partition-discovery reader. The oracle replays the md5 shard
    // routing in SQL and states every (lang, shard) cell's row count
    // and id checksum — row-for-row routing determinism — plus
    // n_files = 1: a shard bucket always lands in exactly one file
    // (hash repartition sends each (lang, shard) combo to one task).
    Declared(
      "ext_pipeline_shard_export",
      (s, d) => {
        // deterministic per-(query, sf) path + mode-overwrite write:
        // repeated executions (bench warm-up + timed runs) reuse ONE
        // dir instead of leaking a corpus-sized parquet copy each —
        // a fresh createTempDirectory per run was measured filling
        // /tmp across bench cycles
        val out = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_shard_census_${d.replaceAll("[^A-Za-z0-9.]", "_")}").toString
        Curation.exportShards(
          Tables.documents(s, d).select("doc_id", "lang", "text"),
          out, Seq("lang"), "doc_id", shardsPerPart = 2)
        s.read.parquet(out)
          .withColumn("__file", input_file_name())
          .withColumn("shard",
            pmod(graft.ext.Hashing.h32(col("doc_id").cast("string")), lit(2)))
          .groupBy("lang", "shard")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("doc_id")).as("id_checksum"),
            countDistinct(col("__file")).as("n_files"))
          .orderBy("lang", "shard")
      },
      Some("""WITH r AS (
                SELECT lang, doc_id,
                       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS shard
                FROM documents)
              SELECT lang, shard, COUNT(*) AS n_rows,
                     CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
                     CAST(1 AS BIGINT) AS n_files
              FROM r GROUP BY lang, shard ORDER BY lang, shard""")),

    // Z-order layout census ([[Layout.writeZOrdered]]): lineitem is
    // actually WRITTEN range-partitioned + sorted on the Morton
    // interleave of two 6-bit dims, then read back. The oracle
    // replays the Morton bit-math in SQL and states the exact row
    // count, z checksum, and global z range — pinning the interleave
    // computation and lossless routing. File boundaries come from
    // range-partitioner sampling (not run-deterministic), so the
    // layout contract is pinned structurally instead: exactly 16
    // files whose recomputed [min_z, max_z] spans are pairwise
    // DISJOINT — the property that makes parquet min-max stats prune
    // box predicates to O(box volume) files at 100 TB.
    Declared(
      "ext_pipeline_zorder",
      (s, d) => {
        // deterministic per-(query, sf) path + mode-overwrite write —
        // same no-leak discipline as ext_pipeline_shard_export
        val out = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_zorder_census_${d.replaceAll("[^A-Za-z0-9.]", "_")}").toString
        val li = Tables.lineitem(s, d).select(col("l_orderkey"),
          (col("l_partkey") % 64).as("x"), (col("l_suppkey") % 64).as("y"))
        graft.ext.Layout.writeZOrdered(li, out, "x", "y", bits = 6, nFiles = 16)
        val back = s.read.parquet(out)
          .withColumn("__file", input_file_name())
          .withColumn("__z", graft.ext.Layout.morton2(col("x"), col("y"), 6))
        val w = org.apache.spark.sql.expressions.Window.orderBy("zmin")
        // 16 file-summary rows — the single-partition window is over
        // file count, never data. Each file's zmin is checked against
        // the RUNNING max of every preceding file's zmax (not just its
        // immediate predecessor): a wide early file spanning several
        // later ones would pass a lag-1 check while still overlapping
        // — the running max is what "pairwise disjoint" actually means
        // for interval spans sorted by their lower end.
        val files = back.groupBy("__file")
          .agg(min("__z").as("zmin"), max("__z").as("zmax"))
          .withColumn("__prev_max", max("zmax").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("__prev_max").isNotNull &&
              col("__prev_max") >= col("zmin"), 1L).otherwise(0L)).as("__ovl"))
        back.agg(count(lit(1)).as("n_rows"),
            sum(col("__z")).as("z_checksum"),
            min(col("__z")).as("z_min"), max(col("__z")).as("z_max"))
          .crossJoin(files)
          .select(col("n_rows"), col("z_checksum"), col("z_min"), col("z_max"),
            col("n_files"), (col("__ovl") === 0).as("files_disjoint"))
      },
      Some("""WITH z AS (
                -- bitwise ops all share one precedence tier in DuckDB
                -- (left-to-right), so every term is fully parenthesized
                SELECT ((((l_partkey % 64) >> 0) & 1) << 0)  | ((((l_suppkey % 64) >> 0) & 1) << 1)
                     | ((((l_partkey % 64) >> 1) & 1) << 2)  | ((((l_suppkey % 64) >> 1) & 1) << 3)
                     | ((((l_partkey % 64) >> 2) & 1) << 4)  | ((((l_suppkey % 64) >> 2) & 1) << 5)
                     | ((((l_partkey % 64) >> 3) & 1) << 6)  | ((((l_suppkey % 64) >> 3) & 1) << 7)
                     | ((((l_partkey % 64) >> 4) & 1) << 8)  | ((((l_suppkey % 64) >> 4) & 1) << 9)
                     | ((((l_partkey % 64) >> 5) & 1) << 10) | ((((l_suppkey % 64) >> 5) & 1) << 11)
                       AS z
                FROM lineitem)
              SELECT COUNT(*) AS n_rows, CAST(SUM(z) AS BIGINT) AS z_checksum,
                     CAST(MIN(z) AS BIGINT) AS z_min, CAST(MAX(z) AS BIGINT) AS z_max,
                     CAST(16 AS BIGINT) AS n_files, TRUE AS files_disjoint
              FROM z""")),

    // Small-file compaction ([[graft.ext.Layout.compact]]): the
    // documents corpus is first written FRAGMENTED (32 round-robin
    // files — the aged-ingest shape streaming upserts leave behind),
    // then compacted into ~quarter-of-the-data target-size files
    // range-partitioned + locally sorted on doc_id, and read back.
    // Row identity (count + id/content-fp checksums) is
    // oracle-replayed; the layout contract is pinned structurally
    // Spark-side (file boundaries come from range-partitioner
    // sampling, not run-deterministic): files_reduced (32 → ~4),
    // files_ok (post-census file count equals compactFileCount's
    // ceil(bytes/target) contract), files_disjoint (per-file doc_id
    // min-max spans pairwise disjoint under the running-max test —
    // the property that keeps parquet min-max pruning alive through
    // the rewrite; a coalesce-style rewrite interleaves ranges and
    // flips it).
    Declared(
      "ext_pipeline_compact",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        // fixture prep (the AGED input dir) is memoized per (session,
        // corpus plan): what the replayed timings measure is the
        // compaction itself, not the fragmentation setup
        val fragDir = PlanCache.artifact("compact/frag/32/doc_id/text", docs) { dd =>
          val p = new java.io.File(sys.props("java.io.tmpdir"),
            s"graft_compact_frag_${d.replaceAll("[^A-Za-z0-9.]", "_")}").toString
          dd.repartition(32).write.mode("overwrite").parquet(p)
          p
        }
        // target = a quarter of the data -> expected file count is 4
        // at EVERY sf (scale-stable booleans); same no-leak
        // deterministic-out-dir discipline as ext_pipeline_shard_export
        val (nBefore, bytes) = graft.ext.Layout.census(s, fragDir)
        val target = math.max(1L, (bytes + 3) / 4)
        // ceil(bytes/target) from the census already taken — don't
        // re-LIST the directory per derived number
        val expected = math.max(1L, (bytes + target - 1) / target)
        val out = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_compact_out_${d.replaceAll("[^A-Za-z0-9.]", "_")}").toString
        graft.ext.Layout.compact(s, fragDir, out, Seq("doc_id"), target)
        val back = s.read.parquet(out).withColumn("__file", input_file_name())
        val w = org.apache.spark.sql.expressions.Window.orderBy("kmin")
        // file-count-sized frame (~4 rows): the single-partition
        // window is over the file census, never the data
        val files = back.groupBy("__file")
          .agg(min("doc_id").as("kmin"), max("doc_id").as("kmax"))
          .withColumn("__prev_max", max("kmax").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
          .agg(count(lit(1)).as("__nf"),
            sum(when(col("__prev_max").isNotNull &&
              col("__prev_max") >= col("kmin"), 1L).otherwise(0L)).as("__ovl"))
        back.agg(count(lit(1)).as("n_rows"),
            sum(col("doc_id")).as("id_checksum"),
            (sum(Hashing.h60(col("text")) % 1000000007L) % 1000000007L)
              .as("fp_checksum"))
          .crossJoin(files)
          .select(col("n_rows"), col("id_checksum"), col("fp_checksum"),
            (lit(nBefore) > col("__nf")).as("files_reduced"),
            // bounded range, not exact equality: Spark writes NO file
            // for an empty range partition, so a sampler boundary
            // collapse (tiny or heavily skewed doc_id data) can
            // legitimately produce one file fewer than
            // ceil(bytes/target) — the contract is "within one of the
            // target count, and never more", not a sampler-dependent
            // exact number (files_reduced separately pins the
            // compaction happened at all)
            (col("__nf") <= lit(expected) &&
              col("__nf") >= lit(math.max(1L, expected - 1))).as("files_ok"),
            (col("__ovl") === 0).as("files_disjoint"))
      },
      Some("""SELECT COUNT(*) AS n_rows,
                     CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
                     CAST(SUM(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 1000000007)
                          % 1000000007 AS BIGINT) AS fp_checksum,
                     TRUE AS files_reduced, TRUE AS files_ok,
                     TRUE AS files_disjoint
              FROM documents""")),

    // k-anonymity suppression ([[Curation.kAnonymize]], k = 8 over
    // the (lang, source) quasi-identifier): rows whose metadata
    // combination occurs < 8 times are suppressed — the long-tail
    // privacy gate PII redaction can't provide (near-unique metadata
    // re-identifies even with clean text). One combination-bounded
    // groupBy + a broadcast semi-join; the per-lang census with id
    // checksums pins exactly WHICH rows survive, and the suppressed
    // count pins the complement.
    Declared(
      "ext_pipeline_kanon",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // the survivor relation feeds BOTH the census and the
        // suppressed count — PlanCache'd so the corpus scan + combo
        // groupBy + semi-join execute once, not per consumer
        val kept = PlanCache.cached("kanon/lang,source/8", docs)(
          Curation.kAnonymize(_, Seq("lang", "source"), k = 8))
        kept.groupBy("lang")
          .agg(count(lit(1)).as("n_kept"),
            sum(col("doc_id")).as("id_checksum"))
          .unionByName(
            docs.agg(count(lit(1)).as("__n")).crossJoin(
              kept.agg(count(lit(1)).as("__k")))
              .select(lit("__suppressed").as("lang"),
                (col("__n") - col("__k")).as("n_kept"),
                lit(-1L).as("id_checksum")))
          .orderBy("lang")
      },
      // IS NOT DISTINCT FROM, not `=`: the impl's semi-join is
      // null-safe by contract (a frequent null combo is KEPT), and
      // the oracle must pin that contract, not silently diverge the
      // day the fixture carries a null quasi value
      Some("""WITH ok AS (
                SELECT lang, source FROM documents
                GROUP BY lang, source HAVING COUNT(*) >= 8),
              kept AS (
                SELECT d.* FROM documents d SEMI JOIN ok
                ON d.lang IS NOT DISTINCT FROM ok.lang
               AND d.source IS NOT DISTINCT FROM ok.source)
              SELECT lang, COUNT(*) AS n_kept,
                     CAST(SUM(doc_id) AS BIGINT) AS id_checksum
              FROM kept GROUP BY lang
              UNION ALL
              SELECT '__suppressed' AS lang,
                     (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM kept) AS n_kept,
                     CAST(-1 AS BIGINT) AS id_checksum
              ORDER BY lang""")),

    // Generalize-then-suppress k-anonymity ([[Curation
    // .kAnonymizeGeneralized]], same k = 8 and quasi set as
    // ext_pipeline_kanon): rare (lang, source) combinations first
    // coarsen source → 'other' (one generalization rung), the pooled
    // buckets recount, and only rows whose COARSENED combination
    // still falls below k are suppressed. The census groups by the
    // PUBLISHED (coarsened) values — pooled 'other' buckets appear as
    // such, with id checksums pinning exactly which rows survive —
    // and the __suppressed meta rows pin the domination contract:
    // generalization suppresses strictly fewer rows than
    // suppression-only at equal k (general_fewer = 1), because the
    // long-tail rows suppression-only over-drops survive whenever
    // their pooled bucket reaches k. Scale shape: the corpus crosses
    // one combo-bounded groupBy plus two broadcast joins; the pooled
    // recount is dimension-side only and the corpus never shuffles
    // (kAnonymize's contract, kept).
    Declared(
      "ext_pipeline_kanon_general",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val keptG = PlanCache.cached("kanon_gen/lang,source/8", docs)(
          Curation.kAnonymizeGeneralized(_, Seq("lang", "source"), k = 8))
        // suppression-only twin — shares ext_pipeline_kanon's cache tag,
        // so the two rows build the survivor relation once between them
        val keptP = PlanCache.cached("kanon/lang,source/8", docs)(
          Curation.kAnonymize(_, Seq("lang", "source"), k = 8))
        val base = docs.agg(count(lit(1)).as("__n"))
          .crossJoin(keptG.agg(count(lit(1)).as("__kg")))
          .crossJoin(keptP.agg(count(lit(1)).as("__kp")))
        keptG.groupBy("lang", "source")
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
          .unionByName(base.select(
            lit("__suppressed").as("lang"), lit("general").as("source"),
            (col("__n") - col("__kg")).as("n_kept"), lit(-1L).as("id_checksum")))
          .unionByName(base.select(
            lit("__suppressed").as("lang"), lit("plain").as("source"),
            (col("__n") - col("__kp")).as("n_kept"), lit(-1L).as("id_checksum")))
          .unionByName(base.select(
            lit("__suppressed").as("lang"), lit("general_fewer").as("source"),
            when(col("__kg") > col("__kp"), 1L).otherwise(0L).as("n_kept"),
            lit(-1L).as("id_checksum")))
          .orderBy("lang", "source")
      },
      Some("""WITH counts AS (
                SELECT lang, source, COUNT(*) AS n FROM documents
                GROUP BY lang, source),
              coarse AS (
                SELECT lang, source,
                       CASE WHEN n < 8 THEN 'other' ELSE source END AS g, n
                FROM counts),
              okg AS (
                SELECT lang, g FROM coarse GROUP BY lang, g
                HAVING SUM(n) >= 8),
              marked AS (
                SELECT d.doc_id, d.lang, c.g AS source FROM documents d
                JOIN coarse c ON d.lang IS NOT DISTINCT FROM c.lang
                             AND d.source IS NOT DISTINCT FROM c.source),
              keptg AS (
                SELECT m.* FROM marked m SEMI JOIN okg
                  ON m.lang IS NOT DISTINCT FROM okg.lang
                 AND m.source IS NOT DISTINCT FROM okg.g),
              okp AS (SELECT lang, source FROM counts WHERE n >= 8),
              keptp AS (
                SELECT d.doc_id FROM documents d SEMI JOIN okp
                  ON d.lang IS NOT DISTINCT FROM okp.lang
                 AND d.source IS NOT DISTINCT FROM okp.source)
              SELECT lang, source, COUNT(*) AS n_kept,
                     CAST(SUM(doc_id) AS BIGINT) AS id_checksum
              FROM keptg GROUP BY lang, source
              UNION ALL
              SELECT '__suppressed', 'general',
                     (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM keptg),
                     CAST(-1 AS BIGINT)
              UNION ALL
              SELECT '__suppressed', 'plain',
                     (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM keptp),
                     CAST(-1 AS BIGINT)
              UNION ALL
              SELECT '__suppressed', 'general_fewer',
                     CASE WHEN (SELECT COUNT(*) FROM keptg) > (SELECT COUNT(*) FROM keptp)
                          THEN 1 ELSE 0 END,
                     CAST(-1 AS BIGINT)
              ORDER BY lang, source""")),

    // Distributed global row numbering ([[Curation.assignIds]]): the
    // scalable twin of ROW_NUMBER() OVER (ORDER BY k) — which Spark
    // executes through ONE partition (the WindowExec warning; a
    // 100 TB corpus dies there) — as one range exchange + local sort
    // + zipWithIndex's count-job/offset-add. The per-bucket census
    // pins the EXACT (seq_id, doc_id) mapping: mod-p products detect
    // any transposition, bucket min/max pin contiguity, and the
    // oracle replays the single-window formulation DuckDB can afford
    // at fixture scale.
    Declared(
      "ext_pipeline_ids",
      (s, d) => {
        val ids = Curation.assignIds(
          Tables.documents(s, d).select("doc_id", "n_chars"), "doc_id")
        ids.groupBy(expr("seq_id div 500").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min("seq_id").as("seq_min"), max("seq_id").as("seq_max"),
            (sum((col("seq_id") % 1000000007L) * (col("doc_id") % 1000000007L)
              % 1000000007L) % 1000000007L).as("map_checksum"),
            sum(col("n_chars")).as("chars"))
          .orderBy("bucket")
      },
      Some("""WITH r AS (
                SELECT doc_id, n_chars,
                       ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS seq_id
                FROM documents)
              SELECT seq_id // 500 AS bucket, COUNT(*) AS n,
                     CAST(MIN(seq_id) AS BIGINT) AS seq_min,
                     CAST(MAX(seq_id) AS BIGINT) AS seq_max,
                     CAST(SUM(((seq_id % 1000000007) * (doc_id % 1000000007))
                          % 1000000007) % 1000000007 AS BIGINT) AS map_checksum,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM r GROUP BY bucket ORDER BY bucket""")),

    // Deterministic split + stratified-downsampling census: every row
    // is assigned val/test/train by a salted hash of its id, and
    // independently marked kept/dropped by a per-language per-mille
    // rate (en 500‰, es/de/fr 250‰, default 100‰ — exercises the
    // fallback on zh). The id checksum pins exact membership of every
    // (split, lang) cell, so the oracle verifies assignment and
    // sampling decisions row-for-row, not just proportions.
    // Sliding-window chunking ([[Curation.chunk]]): width 64 / stride
    // 48 training spans, census per chunk index — chunk counts, token
    // coverage, and an id checksum pin every span boundary. The
    // operator is a pure map-side generate (one scan at 100 TB).
    Declared(
      "ext_pipeline_chunk",
      (s, d) =>
        Curation.chunk(Tables.documents(s, d), "doc_id", "text",
            width = 64, stride = 48)
          .groupBy("chunk_idx")
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("chunk_len")).as("sum_len"),
            sum(col("doc_id")).as("id_checksum"))
          .orderBy("chunk_idx"),
      Some("""WITH c AS (
                SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
              s AS (SELECT doc_id, n, unnest(range(0, n, 48)) AS start FROM c)
              SELECT start // 48 AS chunk_idx, COUNT(*) AS n_chunks,
                     CAST(SUM(LEAST(64, n - start)) AS BIGINT) AS sum_len,
                     CAST(SUM(doc_id) AS BIGINT) AS id_checksum
              FROM s GROUP BY chunk_idx ORDER BY chunk_idx""")),

    // Training-sequence materialization: concatenate each packed bin's
    // documents in deterministic order and fingerprint the BYTES —
    // ext_pipeline_pack pins the doc→bin assignment, this pins the
    // assembled sequence itself (the md5 of the concatenation matches
    // only if both engines agree on membership, order, separator, and
    // every byte). collect_list is order-nondeterministic under
    // partial aggregation, so the list is array_sort'ed on the
    // (doc_id, text) struct before assembly — the engine-portable way
    // to make an aggregated concatenation deterministic.
    Declared(
      "ext_pipeline_concat",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"), col("text"), col("n_chars"))
        Sampling.packBins(docs, Seq("lang"), col("doc_id"), col("n_chars"),
            budget = 4000)
          .groupBy("lang", "bin")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
            graft.ext.Hashing.h60(concat_ws(" ",
              transform(
                array_sort(collect_list(struct(col("doc_id"), col("text")))),
                x => x.getField("text")))).as("text_h"))
          .orderBy("lang", "bin")
      },
      Some("""WITH b AS (
                SELECT lang, doc_id, text, n_chars,
                       CAST((SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id)
                         - n_chars) // 4000 AS BIGINT) AS bin
                FROM documents)
              SELECT lang, bin, COUNT(*) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS chars,
                     CAST('0x' || substr(md5(string_agg(text, ' ' ORDER BY doc_id)), 1, 15) AS BIGINT) AS text_h
              FROM b GROUP BY lang, bin ORDER BY lang, bin""")),

    // Graded contamination ([[Curation.contaminationScore]]): the
    // audit view of the decontam drop — per train doc, distinct
    // 8-gram count and how many land in the eval suite, same
    // deterministic eval/train split as ext_pipeline_decontam. The
    // full per-doc (n_grams, n_hit) table is the gated output (all
    // integers); Spark counts xxhash64 gram hashes while the oracle
    // counts gram STRINGS, so green also pins collision-free hashing
    // at fixture scale, the same equivalence the drop rows rely on.
    Declared(
      "ext_pipeline_contam_score",
      (s, d) => {
        val b = Tables.documents(s, d)
          .withColumn("__eb", Sampling.hashBucket(col("doc_id"), 100, "eval"))
        val ev = b.where(col("__eb") < 5).select("doc_id", "text")
        val tr = b.where(col("__eb") >= 5).select("doc_id", "text")
        Curation.contaminationScore(tr, "doc_id", "text", ev, "text", n = 8)
          .orderBy("doc_id")
      },
      Some("""WITH b AS (
                SELECT doc_id, text,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'eval'), 1, 8) AS BIGINT) % 100 AS eb
                FROM documents),
              ev AS (SELECT doc_id, text FROM b WHERE eb < 5),
              tr AS (SELECT doc_id, text FROM b WHERE eb >= 5),
              evg AS (
                SELECT DISTINCT unnest(list_transform(range(1, len(string_split(text,' ')) - 6),
                  i -> array_to_string(string_split(text,' ')[i:i+7], ' '))) AS g
                FROM ev),
              trg AS (
                SELECT DISTINCT doc_id, g FROM (
                  SELECT doc_id, unnest(list_transform(range(1, len(string_split(text,' ')) - 6),
                    i -> array_to_string(string_split(text,' ')[i:i+7], ' '))) AS g
                  FROM tr))
              SELECT doc_id, COUNT(*) AS n_grams,
                     CAST(SUM(CASE WHEN evg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
              FROM trg LEFT JOIN evg USING (g)
              GROUP BY doc_id ORDER BY doc_id""")),
  )
}
