package graft.queries

import graft.Tables
import graft.ops.{Corpus, Sampling, Text}
import org.apache.spark.sql.functions._

/** Round-3 corpus-hygiene block: repetition quality, sub-document
  * dedup, stratified sampling, mixture weights, benchmark
  * contamination, PII redaction — the remaining operators a
  * training-data pipeline runs between raw crawl and tokenizer.
  *
  * Engine-side gram/chunk equality is hashed (staged-projection
  * xxhash64 — see Corpus/NearDup); the oracles recompute identical
  * COUNTS from string grams, so every query here is hash-compared,
  * not rows-only.
  */
object CorpusQueries {

  private val wordsSql = "list_filter(string_split(text, ' '), x -> len(x) > 0)"

  def all: Seq[Q] = Seq(

    // Skew-mitigated aggregation: two-phase salted sum/count
    // (ops.Skew.saltedSumCount — phase 1 on (key, salt) spreads a hot
    // key over 16 reducers, phase 2 combines partials). l_returnflag
    // has 3 values over 600k rows — exactly the pathological key
    // distribution the helper exists for. DECIMAL fold → the result is
    // identical to the plain GROUP BY regardless of salting or
    // partitioning, which is what the oracle checks.
    Q("skew1_salted_agg",
      (s, d) => {
        val out = graft.ops.Skew.saltedSumCount(
          Tables.lineitem(s, d), "l_returnflag",
          col("l_quantity").cast("decimal(12,2)"),
          discriminator = col("l_orderkey") * lit(8) + col("l_linenumber"),
          salts = 16)
        out.select(col("l_returnflag"),
          col("sum").cast("double").as("sum_qty"),
          col("count").as("n"))
      },
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // Skew-mitigated JOIN (ops.Skew.saltedJoin — VERDICT r6 item 8):
    // lineitem joined to a 3-row per-returnflag dim on the SAME
    // pathological key as skew1. The dim is replicated `salts` times and
    // the fact side salts deterministically, so on a shuffle join each
    // hot-key shard lands on a different reducer (SkewAndStateSpec pins
    // the (key, salt) shuffle plan with broadcast disabled; at this SF
    // the 48-row side broadcasts, which is also correct). DECIMAL fold
    // through the join → result identical to the unsalted join, which is
    // what the oracle hash-checks.
    Q("skew2_salted_join",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val dim = li.groupBy(col("l_returnflag"))
          .agg(max(col("l_tax").cast("decimal(12,2)")).as("max_tax"))
        val joined = graft.ops.Skew.saltedJoin(
          li.select(col("l_returnflag"),
            col("l_extendedprice").cast("decimal(12,2)").as("price"),
            col("l_orderkey"), col("l_linenumber")),
          dim, "l_returnflag",
          bigDiscriminator = col("l_orderkey") * lit(8) + col("l_linenumber"),
          salts = 16)
        joined.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("price") * col("max_tax")).cast("double").as("weighted"))
      },
      Some("""WITH dim AS (SELECT l_returnflag,
             |    MAX(CAST(l_tax AS DECIMAL(12,2))) AS max_tax
             |  FROM lineitem GROUP BY 1)
             |SELECT li.l_returnflag, COUNT(*) AS n,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * dim.max_tax) AS VARCHAR) AS DOUBLE) AS weighted
             |FROM lineitem li JOIN dim USING (l_returnflag)
             |GROUP BY 1""".stripMargin)),

    // Exact interpolated quartiles per group: Spark `percentile` and
    // DuckDB `quantile_cont` both compute lower + (upper-lower)·frac on
    // the sorted doubles — engine-identical interpolation, verified by
    // the hash compare here.
    Q("q7b_quartiles_by_priority",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))").as("qs"))
        .select(col("o_orderpriority"),
          element_at(col("qs"), 1).as("p25"),
          element_at(col("qs"), 2).as("p50"),
          element_at(col("qs"), 3).as("p75")),
      Some("""SELECT o_orderpriority,
             |  quantile_cont(o_totalprice, 0.25) AS p25,
             |  quantile_cont(o_totalprice, 0.50) AS p50,
             |  quantile_cont(o_totalprice, 0.75) AS p75
             |FROM orders GROUP BY 1""".stripMargin)),

    // Gopher repetition rules: top-bigram share + duplicate-bigram
    // fraction. The filtering decision a real pipeline makes on these
    // (drop if top_share > 0.2 etc.) is a trivial downstream filter.
    Q("t6_repetition_metrics",
      (s, d) => Corpus.repetitionMetrics(Tables.documents(s, d)),
      Some(s"""WITH docs AS (SELECT doc_id, $wordsSql AS ws FROM documents),
             |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
             |        i -> ws[i] || ' ' || ws[i+1])) AS g
             |      FROM docs),
             |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2),
             |a AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS max_c,
             |        SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ
             |      FROM c GROUP BY 1)
             |SELECT d.doc_id,
             |  CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             |  CAST(a.max_c AS DOUBLE) / CAST(a.n_bigrams AS DOUBLE) AS top_bigram_share,
             |  CAST(a.dup_occ AS DOUBLE) / CAST(a.n_bigrams AS DOUBLE) AS dup_bigram_frac
             |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id""".stripMargin)),

    // C4-style chunk-level dedup: globally-first occurrence survives,
    // ordered by (doc_id, idx). Oracle brute-forces the same ranking
    // over string chunks.
    // Sliding-window chunking with overlap (chunkLen 40, overlap 10 →
    // a new chunk every 30 words): the RAG/pretraining chunker. Map-side
    // generate + slice, no shuffle ([[Corpus.slidingChunks]]).
    Q("c2_sliding_chunks",
      (s, d) => Corpus.slidingChunks(Tables.documents(s, d), chunkLen = 40, overlap = 10),
      Some(s"""WITH docs AS (SELECT doc_id, $wordsSql AS ws FROM documents),
             |st AS (SELECT doc_id, ws, unnest(range(0, len(ws), 30)) AS s
             |       FROM docs WHERE len(ws) > 0)
             |SELECT doc_id, CAST(s // 30 AS BIGINT) AS chunk_idx,
             |  array_to_string(ws[s+1 : s+40], ' ') AS chunk_text,
             |  CAST(len(ws[s+1 : s+40]) AS BIGINT) AS n_tokens
             |FROM st""".stripMargin)),

    // Token-budget selection: fill a fixed training budget with the
    // longest documents first (greedy prefix over a deterministic
    // quality order; the budget-crossing document is included). The
    // global running total uses the scalable two-phase shape — the
    // oracle's plain window cumsum proves the two paths equal.
    Q("c3_token_budget_sample",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), Text.wordCount(col("text")).as("n_words"))
          .withColumn("neg_words", -col("n_words"))
        Corpus.tokenBudgetSample(docs, Seq("neg_words", "doc_id"), "n_words", budget = 10000L)
          .select(col("doc_id"), col("n_words"), col("cum_before"))
      },
      Some(s"""WITH w AS (SELECT doc_id, len($wordsSql) AS n_words FROM documents),
             |c AS (SELECT doc_id, n_words,
             |        COALESCE(SUM(n_words) OVER (ORDER BY n_words DESC, doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
             |      FROM w)
             |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
             |  CAST(cum_before AS BIGINT) AS cum_before
             |FROM c WHERE cum_before < 10000""".stripMargin)),

    // Incremental cross-corpus dedup — the production shape: dedup the
    // NEW batch (doc_id ≥ 250) against the EXISTING training set
    // (doc_id < 250), never the old corpus against itself. Exact layer:
    // anti-join on the whitespace-normalized fingerprint. Near layer:
    // the inverted-index Jaccard pair graph restricted to cross pairs
    // (old < 250 ≤ new). A new doc survives only if neither layer finds
    // a prior duplicate. At 100 TB the old side is just its stored
    // fingerprint/shingle index — this query IS that plan at fixture
    // scale.
    Q("d10_incremental_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val split = lit(250L)
        val newDocs = docs.filter(col("doc_id") >= split)
        val oldDocs = docs.filter(col("doc_id") < split)
        val exactDups = newDocs.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
          .join(oldDocs.select(Text.fingerprint(col("text")).as("fp")), Seq("fp"), "left_semi")
          .select(col("doc_id"))
        // cross-corpus pair graph ONLY — no old×old / new×new work
        // (NearDup.jaccardPairsBetween; equality with the filtered full
        // graph is differential-tested in TextSimilaritySpec)
        val nearDups = graft.ops.NearDup.jaccardPairsBetween(oldDocs, newDocs, 3, 0.2)
          .select(col("doc_b").as("doc_id"))
        newDocs.select(col("doc_id"))
          .join(exactDups.unionByName(nearDups).distinct(), Seq("doc_id"), "left_anti")
      },
      Some(s"""WITH docs AS (SELECT doc_id, $wordsSql AS ws, text FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))) AS g
             |  FROM docs),
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |near AS (SELECT doc_b AS doc_id FROM inter
             |  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
             |  WHERE doc_a < 250 AND doc_b >= 250
             |    AND CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.2),
             |exact AS (SELECT n.doc_id FROM docs n JOIN docs o
             |  ON array_to_string(n.ws, ' ') = array_to_string(o.ws, ' ')
             |  AND n.doc_id >= 250 AND o.doc_id < 250),
             |dups AS (SELECT doc_id FROM near UNION SELECT doc_id FROM exact)
             |SELECT doc_id FROM documents
             |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM dups)""".stripMargin)),

    // d10 with the old side read from a PERSISTED index (round 12 — the
    // deploy note above made real, the AnnIndex pattern applied to
    // dedup): the fingerprint set and the shingle inverted index commit
    // through Storage partitioned by hash bucket, built as bootstrap
    // (doc_id < 150) + one incremental append (150..249) that rewrites
    // only the buckets it touches; the new batch (≥ 250) then probes
    // ONLY the buckets its own fingerprints/shingles hash into
    // (DedupIndexSpec proves non-probed buckets are never read, and that
    // bootstrap+append ≡ indexing the whole corpus). Same survivors
    // contract as d10, same oracle — the hash match proves the stored
    // index path end-to-end at the gate.
    Q("d13_persisted_dedup_index",
      (s, d) => {
        import graft.ops.{DedupIndex, Storage}
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val dir = java.nio.file.Files.createTempDirectory("dedupidx")
        try {
          DedupIndex.bootstrap(dir, docs.filter(col("doc_id") < 150), nBuckets = 16)
          DedupIndex.append(s, dir,
            docs.filter(col("doc_id") >= 150 && col("doc_id") < 250))
          DedupIndex.dedupNew(s, dir, docs.filter(col("doc_id") >= 250))
            .localCheckpoint()
        } finally Storage.deleteRecursively(dir)
      },
      Some(s"""WITH docs AS (SELECT doc_id, $wordsSql AS ws, text FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))) AS g
             |  FROM docs),
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |near AS (SELECT doc_b AS doc_id FROM inter
             |  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
             |  WHERE doc_a < 250 AND doc_b >= 250
             |    AND CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.2),
             |exact AS (SELECT n.doc_id FROM docs n JOIN docs o
             |  ON array_to_string(n.ws, ' ') = array_to_string(o.ws, ' ')
             |  AND n.doc_id >= 250 AND o.doc_id < 250),
             |dups AS (SELECT doc_id FROM near UNION SELECT doc_id FROM exact)
             |SELECT doc_id FROM documents
             |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM dups)""".stripMargin),
      harness = true),

    // TAKEDOWN-aware dedup index — the right-to-be-forgotten flow a
    // governed training corpus needs: removed documents leave the
    // persisted index in O(request + touched buckets) (their content
    // names exactly the fingerprint/shingle buckets holding their rows —
    // no rebuild, no full-index scan), and a later batch probe judges
    // survivors against ONLY the retained corpus: near-dups of removed
    // docs come back into the training set, dups of retained docs stay
    // out, and a fingerprint shared with a surviving duplicate keeps
    // flagging exact copies (fingerprints are stored per doc). The
    // oracle replicates the retained-corpus semantics relationally.
    Q("d14_dedup_index_takedown",
      (s, d) => {
        import graft.ops.{DedupIndex, Storage}
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val dir = java.nio.file.Files.createTempDirectory("dedupidx_td")
        try {
          DedupIndex.bootstrap(dir, docs.filter(col("doc_id") < 250), nBuckets = 16)
          DedupIndex.takedown(s, dir,
            docs.filter(col("doc_id") >= 100 && col("doc_id") < 150))
          DedupIndex.dedupNew(s, dir, docs.filter(col("doc_id") >= 250))
            .localCheckpoint()
        } finally Storage.deleteRecursively(dir)
      },
      Some(s"""WITH docs AS (SELECT doc_id, $wordsSql AS ws, text FROM documents),
             |kept AS (SELECT doc_id FROM documents
             |  WHERE doc_id < 250 AND NOT (doc_id >= 100 AND doc_id < 150)),
             |sh AS (SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))) AS g
             |  FROM docs),
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |near AS (SELECT doc_b AS doc_id FROM inter
             |  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
             |  WHERE doc_a IN (SELECT doc_id FROM kept) AND doc_b >= 250
             |    AND CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.2),
             |exact AS (SELECT n.doc_id FROM docs n JOIN docs o
             |  ON array_to_string(n.ws, ' ') = array_to_string(o.ws, ' ')
             |  AND n.doc_id >= 250 AND o.doc_id IN (SELECT doc_id FROM kept)),
             |dups AS (SELECT doc_id FROM near UNION SELECT doc_id FROM exact)
             |SELECT doc_id FROM documents
             |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM dups)""".stripMargin),
      harness = true),

    // The dedup index maintained CONTINUOUSLY from the corpus table's
    // commit-log tail (foreachBatchDedupIndexMaintain — previously
    // spec-only): a real Structured Streaming query replays bootstrap,
    // an insert-only append window, and a TAKEDOWN window (pre-image
    // deletes leave via content-addressed bucket-pruned removal), and
    // the final batch probe must hash-match the retained-corpus oracle
    // — identical to d14's, proving stream ≡ batch for the whole
    // index-maintenance surface. At 100 TB this is the always-fresh
    // governance loop: corpus commits (including right-to-be-forgotten
    // deletes) flow to the index in O(Δ + touched buckets) per batch.
    Q("stream12_dedup_index_maintain",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import org.apache.spark.sql.streaming.Trigger
        implicit val sqlCtx = s.sqlContext
        import graft.ops.{DedupIndex, MergeOps, Storage}
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val dir = java.nio.file.Files.createTempDirectory("stream12")
        val base = dir.resolve("corpus")
        val idx = dir.resolve("idx")
        def load(df: org.apache.spark.sql.DataFrame, ts: String): Long =
          MergeOps.prunedConditionalUpsert(base,
            df.withColumn("loaded_at", lit(null).cast("timestamp"))
              .withColumn("last_upd_at", lit(null).cast("timestamp")),
            pk = Seq("doc_id"), tracked = Seq("text"),
            runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 8)
        try {
          val v0 = load(docs.filter(col("doc_id") < 200), "2024-01-15 00:00:00")
          val input = MemoryStream[Long]
          val q = graft.streaming.StreamingLoads.foreachBatchDedupIndexMaintain(
            input.toDF().toDF("v"), base, idx,
            trigger = Trigger.ProcessingTime(0)).start()
          try {
            input.addData(v0); q.processAllAvailable() // bootstrap
            val v1 = load(docs.filter(col("doc_id") < 250), "2024-02-01 00:00:00")
            input.addData(v1); q.processAllAvailable() // append window
            val v2 = MergeOps.prunedDelete(base,
              docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
                .select(col("doc_id")),
              pk = Seq("doc_id"), nParts = 8, keepVersions = 8)
            input.addData(v2); q.processAllAvailable() // takedown window
          } finally q.stop()
          DedupIndex.dedupNew(s, idx, docs.filter(col("doc_id") >= 250))
            .localCheckpoint()
        } finally Storage.deleteRecursively(dir)
      },
      Some(s"""WITH docs AS (SELECT doc_id, $wordsSql AS ws, text FROM documents),
             |kept AS (SELECT doc_id FROM documents
             |  WHERE doc_id < 250 AND NOT (doc_id >= 100 AND doc_id < 150)),
             |sh AS (SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))) AS g
             |  FROM docs),
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |near AS (SELECT doc_b AS doc_id FROM inter
             |  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
             |  WHERE doc_a IN (SELECT doc_id FROM kept) AND doc_b >= 250
             |    AND CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.2),
             |exact AS (SELECT n.doc_id FROM docs n JOIN docs o
             |  ON array_to_string(n.ws, ' ') = array_to_string(o.ws, ' ')
             |  AND n.doc_id >= 250 AND o.doc_id IN (SELECT doc_id FROM kept)),
             |dups AS (SELECT doc_id FROM near UNION SELECT doc_id FROM exact)
             |SELECT doc_id FROM documents
             |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM dups)""".stripMargin),
      harness = true),

    Q("d9_chunk_dedup",
      (s, d) => Corpus.chunkDedup(Tables.documents(s, d), chunkWords = 10),
      Some(s"""WITH docs AS (SELECT doc_id, $wordsSql AS ws FROM documents),
             |ch AS (SELECT doc_id, i AS idx,
             |         array_to_string(ws[i*10+1 : i*10+10], ' ') AS chunk
             |       FROM (SELECT doc_id, ws, unnest(range(0, (len(ws)+9)//10)) AS i
             |             FROM docs)),
             |rk AS (SELECT doc_id, idx,
             |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
             |       FROM ch),
             |a AS (SELECT doc_id, COUNT(*) AS n_chunks,
             |        SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept
             |      FROM rk GROUP BY 1)
             |SELECT d.doc_id, COALESCE(a.n_chunks, 0) AS n_chunks,
             |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept
             |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id""".stripMargin)),

    // Stratified deterministic down-sampling by language: en keeps
    // 128/256, de 64/256, the long tail 32/256 — membership is a pure
    // function of md5(doc_id), reproducible across engines/backfills.
    Q("s8_stratified_sample",
      (s, d) => Sampling.stratifiedHashSample(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          col("doc_id"), col("lang"),
          rates = Map("en" -> 128, "de" -> 64), default256 = 32),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
             |  CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN '40' ELSE '20' END""".stripMargin)),

    // Deterministic corpus shuffle: the reproducible training order —
    // rank = position in the md5(seed:doc_id) permutation, assigned with
    // the scalable two-phase rank (range partitions + driver offsets, no
    // global window; the oracle's row_number PROVES the two-phase keys
    // equal a global sort's).
    Q("s9_deterministic_shuffle",
      (s, d) => Sampling.deterministicShuffle(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", "seed42"),
      Some("""SELECT doc_id,
             |  CAST(row_number() OVER (
             |    ORDER BY md5(concat('seed42:', CAST(doc_id AS VARCHAR))), doc_id)
             |    AS BIGINT) AS shuffle_rank
             |FROM documents""".stripMargin)),

    // Domain-mixture reweighting: per-doc resampling weight that moves
    // the corpus from its observed language mix to the uniform target —
    // weight = target_share / actual_share = N / (k · n_lang). One
    // grouped count + one 1-row broadcast; integers → one exact IEEE
    // division, engine-identical.
    Q("mix1_mixture_weights",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val perLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
        val totals = docs.agg(count(lit(1)).as("n_total"),
          countDistinct(col("lang")).as("k"))
        docs.select(col("doc_id"), col("lang"))
          .join(broadcast(perLang), Seq("lang"))
          .crossJoin(broadcast(totals))
          .select(col("doc_id"), col("lang"),
            (col("n_total").cast("double") /
              (col("k") * col("n_lang")).cast("double")).as("weight"))
      },
      Some("""WITH pl AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1),
             |t AS (SELECT COUNT(*) AS n_total, COUNT(DISTINCT lang) AS k FROM documents)
             |SELECT doc_id, d.lang,
             |  CAST(n_total AS DOUBLE) / CAST(k * n_lang AS DOUBLE) AS weight
             |FROM documents d JOIN pl ON d.lang = pl.lang CROSS JOIN t""".stripMargin)),

    // Benchmark contamination: corpus docs sharing ≥1 distinct 5-gram
    // with the held-out benchmark slice (source = 'src0'). The
    // benchmark gram set broadcasts (eval suites are small and fixed);
    // the corpus side never shuffles on the gram.
    Q("c1_benchmark_contamination",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Corpus.contamination(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), n = 5)
      },
      Some(s"""WITH docs AS (SELECT doc_id, source, $wordsSql AS ws FROM documents),
             |grams AS (SELECT doc_id, source,
             |    unnest(list_distinct(list_transform(range(1, len(ws) - 3),
             |      i -> array_to_string(ws[i:i+4], ' ')))) AS g
             |  FROM docs),
             |bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0')
             |SELECT doc_id, COUNT(*) AS n_shared_grams
             |FROM grams JOIN bench USING (g)
             |WHERE source <> 'src0'
             |GROUP BY doc_id""".stripMargin)),

    // The composed training-corpus pipeline — the north star's actual
    // use-case, end to end in ONE DAG: quality gate → exact dedup
    // (min-doc_id survivor per fingerprint) → stratified language
    // down-sampling → deterministic split assignment → token stats.
    // Every stage is one of the library's operators; the oracle replays
    // the whole chain as CTEs. Plan: two shuffles total (the dedup
    // group-by and its semi-join back), everything else map-side.
    Q("pipe1_training_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ws = Text.words(col("text"))
        val measured = docs.select(
          col("doc_id"), col("lang"), col("text"),
          size(ws).as("n_words"),
          (size(array_distinct(ws)).cast("double") /
            nullif(size(ws), lit(0)).cast("double")).as("uniq_ratio"))
        val quality = measured
          .filter(col("n_words") >= 5 && col("uniq_ratio") >= 0.3)
        val keepIds = quality
          .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
          .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        val deduped = quality.join(keepIds, Seq("doc_id"), "left_semi")
        val sampled = Sampling.stratifiedHashSample(
          deduped, col("doc_id"), col("lang"),
          rates = Map("en" -> 128, "de" -> 64), default256 = 32)
        Sampling.deterministicSplit(sampled, col("doc_id"),
            test256 = 26, val256 = 25)
          .select(col("doc_id"), col("lang"), col("split"),
            Text.tokenCount(col("text")).as("n_tokens"))
      },
      Some(s"""WITH m AS (SELECT doc_id, lang, text,
             |    len($wordsSql) AS n_words,
             |    CAST(len(list_distinct($wordsSql)) AS DOUBLE)
             |      / CAST(NULLIF(len($wordsSql), 0) AS DOUBLE) AS uniq_ratio
             |  FROM documents),
             |q AS (SELECT * FROM m WHERE n_words >= 5 AND uniq_ratio >= 0.3),
             |keep AS (SELECT MIN(doc_id) AS doc_id
             |  FROM (SELECT doc_id, md5(array_to_string($wordsSql, ' ')) AS fp
             |        FROM documents
             |        WHERE doc_id IN (SELECT doc_id FROM q))
             |  GROUP BY fp),
             |sampled AS (SELECT q.* FROM q JOIN keep USING (doc_id)
             |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
             |    CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN '40' ELSE '20' END)
             |SELECT doc_id, lang,
             |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
             |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '33' THEN 'validation'
             |       ELSE 'train' END AS split,
             |  len(string_split(text, ' ')) AS n_tokens
             |FROM sampled""".stripMargin)),

    // Winnowing fingerprints (MOSS): per-doc positional sketch — every
    // shared w+k-1-word run between docs shares a fingerprint. The
    // oracle replays the identical md5-derived gram hash and
    // rightmost-min window selection in SQL.
    Q("fp1_winnowing",
      (s, d) => Corpus.winnowingFingerprints(Tables.documents(s, d), k = 4, w = 4),
      Some(s"""WITH docs AS (SELECT doc_id, $wordsSql AS ws FROM documents),
             |g AS (SELECT doc_id, list_transform(range(1, len(ws) - 2),
             |        i -> array_to_string(ws[i:i+3], ' ')) AS gs
             |      FROM docs),
             |gh AS (SELECT doc_id, list_transform(gs,
             |        s -> CAST(CONCAT('0x', substring(md5(s), 1, 15)) AS BIGINT)) AS gh
             |      FROM g WHERE len(gs) >= 1),
             |wins AS (SELECT doc_id,
             |    unnest(list_transform(range(0, len(gh) - least(4, len(gh)) + 1), i ->
             |      struct_pack(
             |        pos := i + least(4, len(gh))
             |          - list_position(list_reverse(gh[i+1 : i+least(4, len(gh))]),
             |              list_min(gh[i+1 : i+least(4, len(gh))])) + 1,
             |        fph := list_min(gh[i+1 : i+least(4, len(gh))])))) AS s
             |  FROM gh)
             |SELECT DISTINCT doc_id, CAST(s.pos AS BIGINT) AS pos, s.fph AS fph
             |FROM wins""".stripMargin)),

    // Heavy hitters: top-10 corpus words via the SpaceSaving sketch
    // (plans.SpaceSavingTopK — bounded O(capacity) state, map-side
    // merge). Run in the exact regime (capacity ≫ vocabulary), where
    // every count is provably exact and merge-order independent, so the
    // plain GROUP BY oracle verifies the sketch bit-for-bit; the
    // bounded regime's error guarantees are property-tested in
    // SpaceSavingSpec.
    Q("hh1_heavy_hitter_words",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(Text.words(col("text"))).as("w"))
        words
          .agg(graft.plans.SpaceSavingTopK.topK(col("w"), 4096).as("hh"))
          .select(explode(slice(col("hh"), 1, 10)).as("e"))
          .select(col("e.item").as("word"), col("e.cnt").as("cnt"),
            col("e.err").as("err"))
      },
      Some(s"""SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS err
             |FROM (SELECT unnest($wordsSql) AS word FROM documents)
             |GROUP BY word
             |ORDER BY cnt DESC, word
             |LIMIT 10""".stripMargin)),

    // Sequence packing (concat-and-chunk): the manifest mapping each doc
    // into fixed 512-token training sequences, docs concatenated in
    // doc_id order. Spark computes the global running offset with the
    // two-phase range-partition + driver-prefix-sum shape (no
    // single-partition sort anywhere); the oracle replays it as one
    // window cumsum — two algorithms, one hash-compared answer.
    Q("pack1_sequence_packing",
      (s, d) => Corpus.packSequences(
        Tables.documents(s, d)
          .select(col("doc_id"), Text.wordCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", seqLen = 512),
      Some(s"""WITH t AS (SELECT doc_id, CAST(len($wordsSql) AS BIGINT) AS n_tokens FROM documents),
             |c AS (SELECT doc_id, n_tokens,
             |        COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
             |      FROM t)
             |SELECT doc_id, n_tokens,
             |  CASE WHEN n_tokens > 0 THEN cb // 512 END AS first_seq,
             |  CASE WHEN n_tokens > 0 THEN (cb + n_tokens - 1) // 512 END AS last_seq,
             |  CASE WHEN n_tokens > 0 THEN (cb + n_tokens - 1) // 512 - cb // 512 + 1
             |       ELSE 0 END AS n_seqs
             |FROM c""".stripMargin)),

    // PII redaction: email/phone masking + match counts. This corpus
    // contains no PII (counts are all 0; the fingerprint equals the
    // unredacted text's) — PiiSpec carries the semantic verification on
    // crafted rows; the oracle still recomputes the same regexes over
    // every doc, so the patterns' cross-engine parity IS hash-checked.
    Q("t7_pii_redaction",
      (s, d) => {
        val m = Corpus.piiRedact(col("text"))
        Tables.documents(s, d)
          .select(col("doc_id") +: m.map { case (n, c) => c.as(n) }: _*)
      },
      Some(s"""SELECT doc_id,
             |  len(regexp_extract_all(text, '${Corpus.EmailPattern}')) AS n_emails,
             |  len(regexp_extract_all(text, '${Corpus.PhonePattern}')) AS n_phones,
             |  md5(regexp_replace(regexp_replace(text, '${Corpus.EmailPattern}', '<EMAIL>', 'g'),
             |      '${Corpus.PhonePattern}', '<PHONE>', 'g')) AS redacted_fp
             |FROM documents""".stripMargin)),

    // Quality-filter funnel (Corpus.qualityFunnel): per-stage removal
    // counts with FIRST-FAILING attribution — the audit view a corpus
    // pipeline ships alongside its filters ("how much did each rule
    // cost me, in order"). Stage 3 removes nothing on this fixture by
    // design: a zero row proves zero-fill works and the funnel schema is
    // stable when a filter goes quiet. Ordinal-prefixed stage names give
    // the oracle a total order without a separate rank column.
    Q("t8_quality_funnel",
      (s, d) => Corpus.qualityFunnel(Tables.documents(s, d), Seq(
        "1_too_short" -> (length(col("text")) < 200),
        "2_too_few_words" -> (size(graft.ops.Text.tokens(col("text"))) < 40),
        "3_bad_word_shape" ->
          !(length(col("text")).cast("double") /
            size(graft.ops.Text.tokens(col("text")))).between(3.5, 9.0),
        "4_wrong_lang" -> !col("lang").isin("en", "de", "fr")),
        survivorLabel = "5_survivors"),
      Some("""WITH f AS (SELECT CASE
             |    WHEN length(text) < 200 THEN '1_too_short'
             |    WHEN len(string_split(text, ' ')) < 40 THEN '2_too_few_words'
             |    WHEN length(text) * 1.0 / len(string_split(text, ' '))
             |         NOT BETWEEN 3.5 AND 9.0 THEN '3_bad_word_shape'
             |    WHEN lang NOT IN ('en', 'de', 'fr') THEN '4_wrong_lang'
             |    ELSE '5_survivors' END AS stage
             |  FROM documents),
             |s(stage) AS (VALUES ('1_too_short'), ('2_too_few_words'),
             |  ('3_bad_word_shape'), ('4_wrong_lang'), ('5_survivors'))
             |SELECT s.stage, CAST(coalesce(c.n, 0) AS BIGINT) AS n_docs
             |FROM s LEFT JOIN (SELECT stage, COUNT(*) AS n FROM f GROUP BY 1) c
             |  USING (stage)""".stripMargin)))
}
