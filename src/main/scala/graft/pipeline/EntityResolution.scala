package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocking.Blocking
import graft.cluster.{CheckpointStore, ConnectedComponents}
import graft.functions.GraftFunctions._

/**
 * The end-to-end record-linkage pipeline: normalize → multi-pass blocking →
 * pairwise scoring → threshold → transitive clustering → integrated output.
 *
 * This re-creates, Spark-first and from scratch, the entity-resolution stage
 * the reference delegates to AWS Entity Resolution
 * (declaration: lib/entity-resolution-service.ts:142-183) and its output
 * contract, the `integrated_customer` table
 * (lib/data-storage.ts:155-217): one row per input record carrying
 *   RecordId          — the per-source record key (here: url),
 *   InputSourceARN    — which source the row came from (here: main|sub),
 *   MatchID           — cluster id, same entity ⇒ same value (here: the
 *                       lexicographically smallest url in the cluster),
 *   ConfidenceLevel   — calibrated match confidence in [0,1].
 *
 * Scale design: all per-record derivations (text extraction, normalization,
 * minhash signatures) are codegen'd expressions evaluated in the scan stage;
 * records are dictionary-encoded to 64-bit ids (xxhash64(url)) so that every
 * pair / edge / clustering shuffle moves 8-byte longs instead of url
 * strings; blocking bounds block sizes (skew-aware re-keying); pair scoring
 * touches only candidate pairs through a PROVABLY LOSSLESS two-stage funnel;
 * clustering is O(log n) rounds of partial-aggregated joins with
 * per-iteration checkpoints. Urls are re-attached only at the output edge.
 *
 * Id collisions: 64-bit hash ids collide with probability ~n²/2⁶⁵ (≈3·10⁻⁹
 * at 10⁶ records, ≈0.03 at 10¹²). At true 10¹²-doc scale set
 * `Config(idBits = 128)`: ids become 16-byte binaries built from two
 * independent xxhash64 halves (collision probability ~n²/2¹²⁹), and the
 * id-type-agnostic pipeline produces bit-identical integrated output at 2×
 * the shuffle-key bytes (IdBitsSpec proves the equivalence).
 * `resolve(auditIds = true)` adds a one-pass distinct-count audit that
 * aborts on collision rather than silently merging two records.
 */
object EntityResolution {

  case class Config(
      blocking: Blocking.Config = Blocking.Config(),
      tau: Double = 0.75,
      wJaroWinkler: Double = 0.35,
      wTokenJaccard: Double = 0.50,
      wLevenshtein: Double = 0.15,
      titleTokens: Int = 8,
      // token-hash truncation width for the packed token sets (the widest
      // per-record stage payload): 32 cuts records-table and funnel-join
      // bytes ~2x vs raw 64-bit long arrays; per-pair jaccard perturbation
      // probability is ~n_a·n_b/2^bits (≈1e-5 at 200-token docs), magnitude
      // ≤ 1/|union| — see Sim.packTokenHashes. 64 = lossless mode.
      tokenBits: Int = 32,
      // record-id width: 64 (default — xxhash64(url), 8-byte shuffle keys,
      // collision-audited) or 128 (two independent xxhash64 halves packed
      // into a 16-byte binary — collision probability ~n²/2¹²⁹, the mode for
      // true 10¹²-record corpora where 64-bit ids reach ~3%). The whole
      // pipeline downstream of normalize() is id-type-agnostic; 128-bit runs
      // produce bit-identical integrated output (IdBitsSpec).
      idBits: Int = 64,
      checkpointDir: Option[String] = None,
      // stage-materialization dir (normalized records, match edges). Parquet
      // materialization replaces block-manager caching: measured on this
      // pipeline, InMemoryRelation build+read is the one component whose
      // per-task CPU inflates with task concurrency, while parquet scan/write
      // scales ~1.0 — and a durable columnar checkpoint is the design that
      // survives at 100 TB anyway (maps to an Iceberg table per stage).
      workDir: Option[String] = None) {
    // the stage-0/1 funnel prefilters bound each term by its maximum, which
    // drops no pair only when every weight is non-negative
    require(wJaroWinkler >= 0 && wTokenJaccard >= 0 && wLevenshtein >= 0,
      s"score weights must be non-negative (the funnel prefilters are lossless " +
        s"only then), got wJW=$wJaroWinkler wTJ=$wTokenJaccard wLev=$wLevenshtein")
  }

  /** The semantic parameters whose equality the incremental exactness proof
    * depends on (blocking keys, SN windows, funnel weights/threshold, token
    * truncation). Persisted per state dir; resolveIncremental requires the
    * prior run used the SAME signature — a changed snWindow/blocking config
    * between runs would silently break the "old×old SN pairs only shrink"
    * subset argument. Dirs are excluded (they don't affect results). */
  private def configSig(cfg: Config): String =
    s"blocking=${cfg.blocking};tau=${cfg.tau};wJW=${cfg.wJaroWinkler};" +
      s"wTJ=${cfg.wTokenJaccard};wLev=${cfg.wLevenshtein};" +
      s"titleTokens=${cfg.titleTokens};tokenBits=${cfg.tokenBits}" +
      // idBits entered the signature with its 64 default; older state dirs
      // (no suffix) therefore mean 64 — only a non-default width is stamped,
      // so existing incremental chains keep folding without a re-resolve
      (if (cfg.idBits != 64) s";idBits=${cfg.idBits}" else "")

  private val workCounter = new java.util.concurrent.atomic.AtomicInteger()
  private def freshWorkDir(): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft-work/" +
      s"${ProcessHandle.current().pid()}-${workCounter.incrementAndGet()}"
    new java.io.File(d).mkdirs()
    d
  }

  /**
   * Per-record normalization — the analog of the reference's typed-field
   * semantic normalization (EMAIL_ADDRESS / NAME / DATE types,
   * lib/entity-resolution-service.ts:54-138). Text is re-extracted from the
   * raw html bytes (deterministic, byte-identical per url); all derived
   * fields are pure functions of row content. `id` is the 64-bit dictionary
   * encoding of the record key used by every downstream shuffle.
   */
  def normalize(pages: DataFrame): DataFrame = normalize(pages, idBits = 64)

  /** [[normalize]] with a chosen record-id width: 64 → xxhash64(url) long
    * (default), 128 → two independent xxhash64 halves packed big-endian into
    * a 16-byte binary (collision-safe at 10¹² records). Everything
    * downstream — blocking, funnel joins, clustering min/least, the url
    * re-attach — is id-type-agnostic, so the only difference is the bytes
    * each shuffle key carries. */
  def normalize(pages: DataFrame, idBits: Int): DataFrame = {
    require(idBits == 64 || idBits == 128, s"idBits must be 64 or 128, got $idBits")
    val id =
      if (idBits == 64) xxhash64(col("url"))
      // two independent halves: xxhash64 of the url alone and of the url
      // with a constant discriminator column appended (distinct inputs →
      // independent 64-bit streams under xxhash64's avalanche)
      else bin128(xxhash64(col("url")), xxhash64(col("url"), lit("graft-id-hi")))
    val textEx = html_to_text(col("html"))
    pages
      .withColumn("id", id)
      .withColumn("text_ex", textEx)
      .withColumn("text_norm", ascii_lower(col("text_ex")))
      .withColumn("title_norm", substring_index(col("text_norm"), " ", 8))
      .withColumn("domain_key", Blocking.domainKey(col("url")))
      .withColumn("sort_key",
        array_join(array_sort(split(
          regexp_extract(col("url"), "/([^/?]+)/?(\\?.*)?$", 1), "-")), " "))
  }

  /** normalize + minhash signature + packed token-hash set + token count
    * (computed once in the scan stage, persisted with records — never
    * recomputed per pass/pair). `tok` is the delta+varint-packed binary form
    * (Sim.packTokenHashes): ~2x fewer bytes than a raw long array through
    * every downstream scan and shuffle; `n_tok` reads its O(1) count prefix
    * (Catalyst subexpression elimination evaluates the pack once). */
  def normalizeWithSig(pages: DataFrame, cfg: Config): DataFrame =
    normalize(pages, cfg.idBits)
      .withColumn("sig",
        minhash_sig(col("text_norm"), cfg.blocking.shingleSize, cfg.blocking.minhashHashes))
      .withColumn("tok", pack_tokens(col("text_norm"), cfg.tokenBits))
      .withColumn("n_tok", packed_count(col("tok")))

  /** Dedup the raw candidate-pair stream so its one shuffle DOUBLES as the
    * funnel's first join distribution: hash-partitioning by `main_id` alone
    * still co-locates every copy of a (main_id, sub_id) pair (duplicates are
    * per-pair), so the dropDuplicates aggregate runs exchange-free on top of
    * the repartition, and the aggregate's output partitioning — main_id —
    * satisfies [[scorePairs]]'s first light join, which the planner then
    * also runs exchange-free. Versus a plain `.distinct()` (hash on both
    * columns) this removes one full pair-stream exchange; shuffle bytes are
    * unchanged because a pair's duplicate copies come from UNRELATED block
    * keys (domain/LSH/SN) that live in different map partitions, where
    * distinct's map-side combine never saw them anyway. Per-main_id pair
    * counts are bounded by the blocking caps (maxBlock·keys-per-record +
    * snWindow), so the single-column partitioning cannot skew.
    *
    * This one exchange is also MINIMAL — emitting the pairs pre-partitioned
    * by main_id from the block-key join itself was investigated and is not
    * possible: the join's own required child distribution is block_key (the
    * equi-key), so its output partitioning is block_key by operator
    * contract, and a pair's duplicate copies always originate under
    * DIFFERENT block keys (that is what makes them duplicates), i.e. in
    * different output partitions. Any cross-block dedup therefore needs
    * exactly one all-to-all of the pair stream; this is it, carrying
    * 16-byte rows and doubling as the funnel's first join distribution. */
  private[graft] def dedupPairs(raw: DataFrame): DataFrame =
    raw.repartition(col("main_id")).dropDuplicates("main_id", "sub_id")

  /** Ensemble score ∈ [0,1] for a pair of normalized records. */
  def scoreExpr(cfg: Config,
                titleA: Column, textA: Column,
                titleB: Column, textB: Column): Column = {
    val jw = jaro_winkler(titleA, titleB)
    val tj = token_jaccard(textA, textB)
    val lev = lit(1.0) - levenshtein(titleA, titleB).cast("double") /
      greatest(length(titleA), length(titleB), lit(1)).cast("double")
    lit(cfg.wJaroWinkler) * jw + lit(cfg.wTokenJaccard) * tj + lit(cfg.wLevenshtein) * lev
  }

  /**
   * Score candidate pairs; returns (main_id, sub_id, score).
   *
   * Two-stage funnel (the scale-critical design point): candidate pairs
   * first join only LIGHT per-record features (short normalized title +
   * token-set size); stage 1 computes the two title terms of the ensemble
   * (Jaro-Winkler + Levenshtein) exactly and bounds the third with
   *   token_jaccard(A,B) ≤ min(|A|,|B|) / max(|A|,|B|)
   * (for sets, |A∩B| ≤ min and |A∪B| ≥ max). A pair is dropped only when
   *   wJW·jw + wLev·lev + wTJ·bound < tau,
   * i.e. when even the maximum possible token-jaccard cannot reach tau —
   * the prefilter is PROVABLY lossless for every weight/tau configuration.
   * Only survivors join the precomputed packed token sets (~0.4 KB/row
   * instead of ~2.5 KB raw text) for the exact jaccard term.
   */
  def scorePairs(pairs: DataFrame, records: DataFrame, cfg: Config): DataFrame = {
    val withTok = if (records.columns.contains("tok")) records
      else records
        .withColumn("tok", pack_tokens(col("text_norm"), cfg.tokenBits))
        .withColumn("n_tok", packed_count(col("tok")))
    val lightA = withTok.select(col("id").as("main_id"),
      col("title_norm").as("title_a"), col("n_tok").as("n_a"))
    val lightB = withTok.select(col("id").as("sub_id"),
      col("title_norm").as("title_b"), col("n_tok").as("n_b"))
    val tjBound = when(col("n_a") === 0 && col("n_b") === 0, lit(1.0)) // tj(∅,∅)=1
      .otherwise(least(col("n_a"), col("n_b")).cast("double") /
        greatest(col("n_a"), col("n_b"), lit(1)).cast("double"))
    val levSim = lit(1.0) - levenshtein(col("title_a"), col("title_b")).cast("double") /
      greatest(length(col("title_a")), length(col("title_b")), lit(1)).cast("double")
    val pre = pairs
      .join(lightA, "main_id").join(lightB, "sub_id")
      // Stage 0 (integer-only) prefilter: even PERFECT titles (jw = lev = 1)
      // cannot reach tau when the token-set size ratio alone caps the
      // ensemble below it — wJW·1 + wLev·1 + wTJ·bound < tau. Provably
      // implied by the stage-1 filter below (jw, lev ≤ 1), so the survivor
      // set — and every score — is unchanged; it just skips the O(|title|²)
      // Jaro-Winkler + Levenshtein work for pairs whose sizes already
      // disqualify them (the filter reads two ints, no string touch).
      .filter(lit(cfg.wJaroWinkler) + lit(cfg.wLevenshtein) +
        lit(cfg.wTokenJaccard) * tjBound >= cfg.tau)
      .withColumn("jw", jaro_winkler(col("title_a"), col("title_b")))
      .withColumn("lev", levSim)
      .filter(lit(cfg.wJaroWinkler) * col("jw") + lit(cfg.wLevenshtein) * col("lev") +
        lit(cfg.wTokenJaccard) * tjBound >= cfg.tau)
      .select(col("main_id"), col("sub_id"), col("jw"), col("lev"))
    // exact stage: shuffle precomputed PACKED token sets for survivors only
    // (~0.4 KB/row packed vs ~1.2 KB as a raw long array vs ~2.5 KB raw
    // text); the streaming-merge jaccard value is identical to scoring the
    // sorted hash arrays. Join ORDER is partition-aware: the survivors leave
    // the prefilter partitioned (and sorted) by sub_id — the lightB join's
    // distribution, preserved through filter/project — so joining tok_b
    // FIRST reuses it exchange-free and only the tok_a join re-shuffles the
    // (small, post-filter) survivor stream.
    val tokA = withTok.select(col("id").as("main_id"), col("tok").as("tok_a"))
    val tokB = withTok.select(col("id").as("sub_id"), col("tok").as("tok_b"))
    pre.join(tokB, "sub_id").join(tokA, "main_id")
      .select(col("main_id"), col("sub_id"),
        (lit(cfg.wJaroWinkler) * col("jw") +
          lit(cfg.wTokenJaccard) * packed_jaccard(col("tok_a"), col("tok_b")) +
          lit(cfg.wLevenshtein) * col("lev"))
          .as("score"))
  }

  case class Result(
      integrated: DataFrame,
      scoredPairs: DataFrame,
      edges: DataFrame,
      candidatePairs: DataFrame,
      blockKeys: DataFrame,
      blockStats: DataFrame)

  /** Full pipeline from raw pages.
    * @param auditIds verify the 64-bit id dictionary is collision-free
    *                 (one extra aggregate over the records). */
  def resolve(pages: DataFrame, cfg: Config = Config(),
              auditIds: Boolean = false): Result = {
    val spark = pages.sparkSession
    val work = cfg.workDir.getOrElse(freshWorkDir())

    // Stage 1 materialization: normalized records with precomputed per-record
    // features — one columnar write, scanned (with column pruning) by every
    // downstream consumer. On a real deployment this is the pipeline's
    // `normalized_records` Iceberg table; `records.list` is its manifest
    // (one absolute parquet path per line) so incremental batches can APPEND
    // a new path instead of rewriting the table.
    val recPath = s"$work/records.parquet"
    normalizeWithSig(pages, cfg)
      .select("id", "url", "source", "warc_ts", "lang", "title_norm",
        "domain_key", "sort_key", "sig", "tok", "n_tok")
      .write.mode("overwrite").parquet(recPath)
    val records = spark.read.parquet(recPath)
    if (auditIds) auditIdsOf(records)

    // keys are consumed by BOTH sides of the pair self-join (and by the
    // stats/metrics surface); materializing them turns the deep
    // aggregate+broadcast blocking lineage into one cheap columnar scan per
    // consumer instead of a recomputation per plan subtree. The two count
    // tables persisted beside them (raw_counts, sizes2) are the additive
    // state [[resolveIncremental]] folds a batch's keys into; stats read the
    // PERSISTED sizes table, never the lazy key-stream lineage.
    Blocking.writeBlockTables(records, work, cfg.blocking)
    val keys = spark.read.parquet(s"$work/keys.parquet")
    val blockStats = Blocking.statsOf(spark.read.parquet(s"$work/sizes2.parquet"), cfg.blocking)
    // raw (non-distinct) branch variants: the single dedup below absorbs
    // every duplicate in one shuffle — per-branch inner distincts would each
    // re-shuffle the same pair stream first (measured as the pair-chain
    // stage family in the scale trace)
    val pairs = dedupPairs(Blocking.candidatePairsRaw(keys)
      .union(Blocking.sortedNeighborhoodPairs(records, cfg.blocking)))

    // Stage 2 materialization: accepted match edges (small — one row per
    // cross-source match). Blocking + scoring run exactly once, inside this
    // single write job; clustering and the integrated output re-read the
    // edges without recomputation.
    val scored = scorePairs(pairs, records, cfg)
    val edgePath = s"$work/edges.parquet"
    scored.filter(col("score") >= cfg.tau)
      .write.mode("overwrite").parquet(edgePath)
    val edges = spark.read.parquet(edgePath)

    val store = cfg.checkpointDir.map { d =>
      val s = new CheckpointStore(spark, d)
      // iteration-0 snapshot: the scored match edges themselves, so a resume
      // never has to re-run blocking/scoring
      s.writeIteration(0, edges.select(col("main_id").as("src"),
        col("sub_id").as("dst"), col("score")), -1L, 0.0)
      s
    }
    // Stage 3 materialization: converged components — the durable cluster
    // state a later incremental batch folds into (see resolveIncremental).
    val compPath = s"$work/components.parquet"
    ConnectedComponents.run(
      edges.select(col("main_id").as("src"), col("sub_id").as("dst")), store)
      .write.mode("overwrite").parquet(compPath)
    val components = spark.read.parquet(compPath)
    // a full (re)build is a one-file keys chain with no tombstones
    writeManifests(work, cfg, Seq(recPath), Seq(s"$work/keys.parquet"), Seq.empty)

    val integrated = buildIntegrated(records, edges, components)
    val urlDim = records.select(col("id"), col("url"))
    Result(integrated, scored, attachUrls(edges, urlDim),
      attachUrls(pairs, urlDim), keys, blockStats)
  }

  /**
   * Incremental resolve: fold a new batch of pages into a previous run's
   * durable state WITHOUT re-scoring old×old pairs — the operation a
   * 10¹²-document corpus actually runs per crawl batch (a full re-resolve
   * per batch is quadratic in corpus lifetime; the reference's full-refresh
   * lifecycle, lambda/integrated_customer_updater/index.py, cannot scale
   * there).
   *
   * `priorWorkDir` is the `workDir` of the previous resolve /
   * resolveIncremental run (Iceberg tables on a real deployment). It must
   * hold that run's complete state — the records and keys chains, the
   * raw_counts/sizes2 count tables, edges and components — or the fold is
   * refused before any work ([[openPrior]]). The fold writes its own
   * manifests only after every table of its state is durable, so a failed
   * fold leaves no dir a later fold would accept and never touches the
   * prior dir.
   *
   * What is recomputed vs reused, and why the result is EXACTLY equal to a
   * full re-resolve of old ∪ new (spec-gated, IncrementalSpec):
   *   - block KEYS are folded additively into the prior run's persisted
   *     count tables ([[Blocking.mergeBlockKeys]]) — O(batch + crossed
   *     blocks), exact under hot-block re-keying (argued below).
   *   - candidate PAIRS are generated only where ≥1 side is new
   *     ([[Blocking.candidatePairsInvolving]]); the sorted-neighborhood pass
   *     runs only over buckets containing a new record. Old×old candidates
   *     were scored by the prior run; scoring is a pure function of row
   *     content, so their edges are reused verbatim.
   *   - SCORING — the dominant cost — runs only on the new-involving pairs.
   *   - CLUSTERING runs on new edges ∪ the prior component forest's star
   *     edges (node→component): the stars are exactly the transitive closure
   *     of the old edges, so the CC fixpoint equals CC(old ∪ new edges),
   *     while the near-converged input makes iterations cheap.
   */
  def resolveIncremental(newPages: DataFrame, priorWorkDir: String,
                         cfg: Config = Config(),
                         auditIds: Boolean = false): Result = {
    val spark = newPages.sparkSession
    val work = cfg.workDir.getOrElse(freshWorkDir())
    require(work != priorWorkDir, "incremental output workDir must differ from prior state dir")
    val tInc0 = System.nanoTime()
    def ph(m: String): Unit =
      if (sys.env.get("SPARK_GRAFT_PHASES").contains("1"))
        System.err.println(f"[inc-phase] +${(System.nanoTime() - tInc0) / 1e9}%.1fs $m")

    val prior = openPrior(priorWorkDir)
    // the incremental ≡ full-re-resolve proof assumes the prior run's
    // semantic config equals this one's (SN drift / key-diff arguments are
    // config-relative) — refuse a mismatched fold instead of silently
    // diverging from a full re-resolve
    require(prior.configSig.forall(_ == configSig(cfg)),
      s"config changed since prior state was written:\n  prior: ${prior.configSig.get}" +
        s"\n  now:   ${configSig(cfg)}\nincremental ≡ full only holds under an " +
        "identical config; run a full re-resolve instead")
    val oldRecords = spark.read.parquet(prior.records: _*)
    val oldEdges = spark.read.parquet(s"$priorWorkDir/edges.parquet")
    val oldComponents = spark.read.parquet(s"$priorWorkDir/components.parquet")

    // normalize ONLY the new batch, then APPEND its parquet path to the
    // records manifest — the old record files are never rewritten (Iceberg
    // append semantics; the state dirs form a chain of immutable files)
    val newRecPath = s"$work/records_new.parquet"
    normalizeWithSig(newPages, cfg)
      .select(oldRecords.columns.map(col): _*)
      .write.mode("overwrite").parquet(newRecPath)
    val newRecords = spark.read.parquet(newRecPath)
    ph("batch normalized")
    // Batch-vs-corpus asymmetry is the fold's whole point: every frame
    // derived from the batch (new ids, seed ids, touched buckets, batch
    // keys, batch-involving pairs) is orders of magnitude smaller than the
    // corpus-wide tables it joins against. When the batch is broadcast-
    // sized (the overwhelmingly common fold regime; parquet row-count read
    // is metadata-only), every such join HINTS the batch side broadcast so
    // the corpus-wide side STREAMS instead of shuffling — stage-profiled
    // at the 600 k-doc probe, the un-hinted fold shuffled the 3.6 M-row
    // keys table 3-4x and the records table's packed-token column once
    // (~290 MB) against batch-bounded sets. A beyond-broadcast batch falls
    // back to the plain shuffle-join shapes.
    // test override (`graft.fold.broadcast.max` system property) exists so
    // the beyond-broadcast fallback shapes stay spec-exercised — both paths
    // must stay bit-equal to a full re-resolve
    val smallBatch = newRecords.count() <=
      sys.props.get("graft.fold.broadcast.max").map(_.toLong).getOrElse(1000000L)
    def bcB(df: DataFrame): DataFrame = if (smallBatch) broadcast(df) else df
    // Re-crawl guard: a batch url already present in prior state would
    // append the same id twice (fanning out every later join and silently
    // duplicating RecordId rows). The batch side broadcasts; the old-id
    // side is a column-pruned streamed scan (ids are unique per side, so
    // counting the intersection from the old side is the same count).
    val reCrawled = oldRecords.select("id")
      .join(bcB(newRecords.select("id")), Seq("id"), "left_semi").count()
    require(reCrawled == 0,
      s"$reCrawled record(s) in the batch already exist in prior state " +
        "(re-crawl/update); dedupe the batch or run a compacting re-resolve " +
        "— blind append would duplicate RecordId rows")
    val recordPaths = prior.records :+ newRecPath
    val records = spark.read.parquet(recordPaths: _*)
    val newIds = newRecords.select(col("id"))
    if (auditIds) auditIdsOf(records)

    // ---- keys + affected-record detection: the reason `incremental ≡ full
    // re-resolve` holds UNCONDITIONALLY, not just while no block crosses a
    // re-key/drop threshold. Two global effects of a new batch can change
    // what a full run would generate for OLD records:
    //
    //  (a) hot-block re-keying/dropping: an old record's key SET changes
    //      when its block crosses a size class. The ADDITIVE path
    //      ([[Blocking.mergeBlockKeys]]) folds the batch's keys into the
    //      prior run's persisted (keys, rawCounts, sizes2) state: block
    //      counts are monotone under append-only batches, so crossings —
    //      and exactly the old records they affect — fall out of the merged
    //      count tables in O(batch + crossed blocks), with no key
    //      recomputation over the corpus and no full-table diff. Key-changed
    //      records are folded into the "new" side — their old edges are
    //      dropped and all their candidates re-derived + re-scored (scoring
    //      is a pure content function, so surviving edges come back
    //      identical). In the common case no block crosses a class and the
    //      set is empty.
    //
    //  (b) sorted-neighborhood drift: new records inserted into a bucket
    //      push old neighbors apart. Insertions can only GROW old×old
    //      window distances, so the full run's old×old SN pair set is a
    //      SUBSET of the prior one — no old×old SN pair needs scoring; only
    //      pairs the full run would NO LONGER generate need their stale
    //      edges dropped. Recompute SN over the touched buckets with and
    //      without the batch: the difference (minus pairs still generated
    //      by shared block keys) is the exact stale set.
    //
    // Each keys-fold stage table is materialized once with an eager
    // localCheckpoint (the single computation + lineage cut a write-then-
    // read-back barrier would buy); downstream consumers proceed from the
    // checkpoint blocks while its parquet write runs on the stage writer.
    val (keysAll, blockStats, keyChangedIds) = Blocking.withStageWriter(spark) { w =>
      val folded = Blocking.mergeBlockKeys(
        assembleKeys(spark, prior.keys, prior.tombstones),
        spark.read.parquet(s"$priorWorkDir/raw_counts.parquet"),
        spark.read.parquet(s"$priorWorkDir/sizes2.parquet"),
        newRecords, records, cfg.blocking, (name, df) => {
          val ckpt = df.localCheckpoint(true)
          w.write(ckpt, s"$work/$name.parquet")
          ph(s"  keys-fold stage: $name (write overlapped)")
          ckpt
        })
      ph("keys folded additively")
      folded
    }
    ph("stage writes joined")
    // this fold appended keys_delta + keys_tombstones to the chain; compact
    // back to one file once the chain is long (amortized O(batch) — the
    // rewrite runs once per compactLen folds)
    val keyPaths = prior.keys :+ s"$work/keys_delta.parquet"
    val tombPaths = prior.tombstones :+ s"$work/keys_tombstones.parquet"
    val compacted = keyPaths.length >= keysChainCompactLen
    val keys = if (compacted) {
      keysAll.write.mode("overwrite").parquet(s"$work/keys.parquet")
      ph("keys chain compacted")
      spark.read.parquet(s"$work/keys.parquet")
    } else {
      // The assembled chain view feeds ~5 consumers (keysEff, both
      // candidate-join sides, both sharedKey sides). Through round 5 it
      // was eagerly checkpointed because those consumers SHUFFLED it —
      // materializing once beat re-shuffling per consumer. Since the
      // round-6 broadcast-stream restructure every consumer STREAMS the
      // keys side (the batch-bounded side broadcasts), so each lazy
      // consumption is one column-pruned chain scan + a broadcast
      // anti-join — cheaper distributed inside the consumers' own jobs
      // than the serial 90 MB materialization barrier the checkpoint
      // cost on the fold's critical path.
      keysAll
    }
    // seed ids feed 5+ consumers (keysEff, touched buckets, both SN-seed
    // sides) — one materialization instead of a union+distinct shuffle per
    // consumer; every semi-join against a corpus-wide table hints it
    // broadcast (batch-bounded by construction, gated by smallBatch)
    val seedIds = newIds.union(keyChangedIds).distinct().localCheckpoint(true)
    // keysEff (the seed records' key rows) feeds both candidate-join
    // branches; checkpointed so each branch reads it instead of re-running
    // the semi-join, and small enough (≈ keys-per-record x batch) to hint
    // broadcast inside the candidate join, which then STREAMS the full
    // keys table instead of shuffling it per branch
    val keysEff = keys.join(bcB(seedIds), Seq("id"), "left_semi")
      .localCheckpoint(true)

    val bucketOf = substring(col("sort_key"), 1, cfg.blocking.snBucketLen)
    val touchedBuckets = records.join(bcB(seedIds), Seq("id"), "left_semi")
      .select(bucketOf.as("b")).distinct().localCheckpoint(true)
    val snRecords = records.join(bcB(touchedBuckets), bucketOf === col("b"), "left_semi")
    // SN pairs of the touched buckets feed several consumers — materialize
    // (eager localCheckpoint: per-fold scratch, never next-fold state) so
    // the per-bucket sort + window scan runs once per variant without a
    // durable write+read barrier pair
    val sn = Blocking.sortedNeighborhoodPairs(snRecords, cfg.blocking)
      .localCheckpoint(true)
    ph("sn pairs of touched buckets materialized")
    val snSeed = sn.join(bcB(seedIds.withColumnRenamed("id", "main_id")), Seq("main_id"), "left_semi")
      .union(sn.join(bcB(seedIds.withColumnRenamed("id", "sub_id")), Seq("sub_id"), "left_semi"))
    // prior-run SN pairs of the same buckets (old records only, bucket
    // boundaries are content-defined so the restriction is exact)
    val snPrior = Blocking.sortedNeighborhoodPairs(
      snRecords.join(newIds, Seq("id"), "left_anti"), cfg.blocking)
    // eager: the drift set feeds the sharedKey joins below (both branches)
    // plus the staleSnPairs anti-join, and as a materialized frame its
    // (almost always empty/tiny) content is what the explicit broadcast
    // hints below ship — lazy, every consumer would re-run the two SN
    // window sorts behind the exceptAll (phase-profiled r5: the stale-set
    // phase was 5.0 s of a 31 s fold at 600 k docs before materialization)
    val snDropped = snPrior.exceptAll(sn).localCheckpoint(true)
    // a dropped SN pair still generated by a shared (current) block key is
    // still a full-run candidate — its edge survives. smallBatch shape:
    // inner joins with the (almost always empty/tiny, checkpointed) drift
    // frames broadcast + a final distinct — set-equal to the semi chain
    // (SN pairs are unique by construction, so a pair duplicates only via
    // multiple shared keys, which the distinct collapses) — and BOTH keys
    // passes stream the checkpointed keys table instead of shuffling its
    // 3.6 M rows by id against an empty set (stage-profiled r6 finding).
    val sharedKey = if (smallBatch) {
      val dropMain = keys.select(col("id").as("main_id"), col("block_key"))
        .join(broadcast(snDropped), Seq("main_id"))
      keys.select(col("id").as("sub_id"), col("block_key"))
        .join(broadcast(dropMain), Seq("sub_id", "block_key"))
        .select("main_id", "sub_id").distinct()
    } else snDropped
      .join(keys.select(col("id").as("main_id"), col("block_key")), "main_id")
      .join(keys.select(col("id").as("sub_id"), col("block_key")), Seq("sub_id", "block_key"),
        "left_semi")
      .select("main_id", "sub_id")
    // eager: feeds both edge filtering (semi + anti) below; tiny
    val staleSnPairs = snDropped.join(sharedKey, Seq("main_id", "sub_id"), "left_anti")
      .localCheckpoint(true)
    ph("sn-drift stale set materialized")

    // checkpointed: feeds the scoring funnel, the pair-id pruning frame
    // below, AND Result.candidatePairs (probed/evaluated after the fold) —
    // batch-bounded rows, one materialization
    val pairs = dedupPairs(
      Blocking.candidatePairsInvolvingRaw(keysEff, keys, broadcastNew = smallBatch)
        .union(snSeed))
      .localCheckpoint(true)

    // score only pairs involving a new or key-changed record; all other old
    // edges are reused verbatim except the stale SN set computed above.
    // The funnel's per-record join sides are pruned to ids that actually
    // appear in a batch-involving pair: unpruned, the exact-stage token
    // join shuffles the ENTIRE records table's packed token sets (~0.5 KB/
    // record — 292 MB stage-profiled at the 600 k-doc probe) to score a
    // batch-bounded pair set. The id set broadcasts (batch-bounded); the
    // records scan streams through the semi-join, so no shuffle ever
    // carries a non-participant's tokens. Lossless: scorePairs only ever
    // reads record rows it joins to a pair.
    val recordsForScoring = if (smallBatch) {
      val pairIds = pairs.select(col("main_id").as("id"))
        .union(pairs.select(col("sub_id").as("id"))).distinct()
      records.join(broadcast(pairIds), Seq("id"), "left_semi")
    } else records
    val scored = scorePairs(pairs, recordsForScoring, cfg)
    // scratch: folded into edges.parquet below (the durable table) and read
    // again by the clustering label frames
    val newEdges = scored.filter(col("score") >= cfg.tau)
      .select("main_id", "sub_id", "score")
      .localCheckpoint(true)
    ph("new-involving pairs scored")
    val droppedStaleEdges = oldEdges.select("main_id", "sub_id", "score")
      .join(bcB(staleSnPairs), Seq("main_id", "sub_id"), "left_semi")
    val keptEdges = oldEdges.select("main_id", "sub_id", "score")
      .join(bcB(keyChangedIds.withColumnRenamed("id", "main_id")), Seq("main_id"), "left_anti")
      .join(bcB(keyChangedIds.withColumnRenamed("id", "sub_id")), Seq("sub_id"), "left_anti")
      .join(bcB(staleSnPairs), Seq("main_id", "sub_id"), "left_anti")
    val edgePath = s"$work/edges.parquet"
    newEdges.unionByName(keptEdges)
      .write.mode("overwrite").parquet(edgePath)
    val edges = spark.read.parquet(edgePath)
    ph("edges folded")

    // Clustering runs ONLY on the subgraph touched by a new/dropped edge;
    // untouched prior components pass through label-unchanged. Touched
    // components split two ways:
    //   - STALE (contain a key-changed record or a dropped-edge endpoint —
    //     an old edge may be gone): rebuilt from their kept + new edges,
    //     because the prior star closure would resurrect dropped links;
    //   - CLEAN (touched only by new edges): enter as star edges
    //     (node→component = the exact closure of their intact old edges),
    //     keeping iterations near-converged. Label frames are one batch's
    //     touched components — broadcast, so membership semi-joins stay
    //     shuffle-free.
    def labelsOf(nodes: DataFrame): DataFrame = nodes
      .join(oldComponents, Seq("node"), "left")
      .select(coalesce(col("component"), col("node")).as("component")).distinct()
    // Both label frames are TINY (one row per touched component) but feed
    // 2-3 consumers each (cleanLabels, staleNodes, untouched), and every
    // lazy consumer re-ran the labelsOf join+distinct over the corpus-wide
    // components table — 5-6 shuffles of the same stream per fold. Eager
    // per-fold scratch (same discipline as snDropped): one materialization
    // each, every consumer broadcasts the result.
    // a dropped edge's two endpoints share a prior component, so one side's
    // label covers both
    val staleLabels = labelsOf(
      keyChangedIds.withColumnRenamed("id", "node")
        .union(droppedStaleEdges.select(col("main_id").as("node"))).distinct())
      .localCheckpoint(true)
    val touchedLabels = labelsOf(
      newEdges.select(col("main_id").as("node"))
        .union(newEdges.select(col("sub_id").as("node"))).distinct())
      .union(staleLabels).distinct()
      .localCheckpoint(true)
    val cleanLabels = touchedLabels.exceptAll(staleLabels)
    val cleanStars = oldComponents.join(broadcast(cleanLabels), Seq("component"), "left_semi")
    val staleNodes = oldComponents.join(broadcast(staleLabels), Seq("component"), "left_semi")
      .select(col("node").as("main_id"))
    // kept edges of a stale component (both endpoints share the component)
    val staleKeptEdges = keptEdges.join(staleNodes, Seq("main_id"), "left_semi")
    val untouched = oldComponents.join(touchedLabels, Seq("component"), "left_anti")
    val ccInput = newEdges.select(col("main_id").as("src"), col("sub_id").as("dst"))
      .union(cleanStars.select(col("node").as("src"), col("component").as("dst")))
      .union(staleKeptEdges.select(col("main_id").as("src"), col("sub_id").as("dst")))
    val compPath = s"$work/components.parquet"
    ConnectedComponents.run(ccInput)
      .unionByName(untouched.select("node", "component"))
      .write.mode("overwrite").parquet(compPath)
    val components = spark.read.parquet(compPath)
    ph("clustering folded")
    // manifests last: every table of this fold's state is durable by now
    if (compacted) writeManifests(work, cfg, recordPaths, Seq(s"$work/keys.parquet"), Seq.empty)
    else writeManifests(work, cfg, recordPaths, keyPaths, tombPaths)

    val integrated = buildIntegrated(records, edges, components)
    val urlDim = records.select(col("id"), col("url"))
    Result(integrated, scored, attachUrls(edges, urlDim),
      attachUrls(pairs, urlDim), keys, blockStats)
  }

  /** Writes a run's state manifests, called only once every table they
    * name is durable. In write order:
    *   - `records.list`: the records chain, one parquet path per line.
    *     resolve() writes a single entry; each fold appends its new-records
    *     path, so prior record files are immutable (Iceberg append semantics
    *     — the chain of state dirs must outlive the table).
    *   - `config.sig`: [[configSig]], checked by the next fold.
    *   - `tombstones.list`, then `keys.list`: the keys chain — files whose
    *     union, minus the block keys in the tombstone files, equals the
    *     current keys table ([[Blocking.mergeBlockKeys]] chain note).
    *     Tombstones FIRST: keys.list is the chain's existence marker on the
    *     read side, so a crash between the two writes must leave the chain
    *     UNREADABLE (the next fold refuses it), never readable with the
    *     tombstones silently missing —
    *     that would resurrect every tombstoned (crossed/newly-hot) key row
    *     and diverge from a full re-resolve without any error.
    * Paths are absolutized: a relative workDir written verbatim would make
    * every later fold CWD-dependent (the earlier dirs are live state until
    * compaction). */
  private def writeManifests(work: String, cfg: Config, recordPaths: Seq[String],
                             keyPaths: Seq[String], tombPaths: Seq[String]): Unit = {
    def put(name: String, body: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(work, name), body)
    def list(paths: Seq[String]): String =
      paths.map(p => java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString).mkString("\n")
    put("records.list", list(recordPaths))
    put("config.sig", configSig(cfg))
    put("tombstones.list", list(tombPaths))
    put("keys.list", list(keyPaths))
  }

  /** A prior state dir's records chain, keys chain (+ tombstones) and
    * config signature (None only for dirs written without one). */
  private case class Prior(records: Seq[String], keys: Seq[String],
                           tombstones: Seq[String], configSig: Option[String])

  /** Reads `dir`'s manifests and checks, once, that every table the fold
    * will read is committed (present with its `_SUCCESS`): both chains,
    * whose files may live in earlier state dirs, the count tables, edges and
    * components. A dir without manifests (tables written through the public
    * stage calls) reads as one-file chains with no tombstones. */
  private def openPrior(dir: String): Prior = {
    def read(name: String): Option[String] = {
      val p = java.nio.file.Paths.get(dir, name)
      if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readString(p)) else None
    }
    def chain(name: String): Option[Seq[String]] =
      read(name).map(_.split("\n").toSeq.filter(_.nonEmpty))
    val keys = chain("keys.list")
    val prior = Prior(chain("records.list").getOrElse(Seq(s"$dir/records.parquet")),
      keys.getOrElse(Seq(s"$dir/keys.parquet")),
      if (keys.isEmpty) Seq.empty
      else chain("tombstones.list").getOrElse(throw new IllegalStateException(
        // see writeManifests: a torn manifest, not an empty tombstone set
        s"keys manifest torn in $dir: keys.list exists without " +
          "tombstones.list (interrupted write?) — restore the state dir " +
          "or run a full re-resolve")),
      read("config.sig"))
    val missing = (prior.records ++ prior.keys ++ prior.tombstones ++
      Seq("raw_counts", "sizes2", "edges", "components").map(t => s"$dir/$t.parquet"))
      .filterNot(p => new java.io.File(p, "_SUCCESS").exists())
    require(missing.isEmpty,
      s"prior state incomplete / chain broken in $dir — tables missing or " +
        s"uncommitted (no _SUCCESS): ${missing.mkString(", ")}. Earlier state " +
        "dirs of a chain must outlive it (copy them forward before vacuuming); " +
        "otherwise run a full re-resolve")
    prior
  }

  /** One-pass distinct-count audit of the id dictionary: aborts on a
    * record-id hash collision instead of silently merging two records. */
  private def auditIdsOf(records: DataFrame): Unit = {
    val r = records.agg(countDistinct(col("id")), countDistinct(col("url"))).head()
    require(r.getLong(0) == r.getLong(1),
      s"record-id hash collision: ${r.getLong(1)} urls → ${r.getLong(0)} ids")
  }

  /** Chain files before a compacting rewrite (test override via the
    * `graft.keys.compact.len` system property) — amortized O(batch), and the
    * read-side broadcast anti-join stays bounded. */
  private def keysChainCompactLen: Int =
    sys.props.get("graft.keys.compact.len").map(_.toInt).getOrElse(8)

  /** union(chain) minus tombstoned block keys — the current keys table. */
  private def assembleKeys(spark: SparkSession, keyPaths: Seq[String],
                           tombPaths: Seq[String]): DataFrame = {
    val base = spark.read.parquet(keyPaths: _*)
    if (tombPaths.isEmpty) base
    else base.join(
      broadcast(spark.read.parquet(tombPaths: _*).select("block_key").distinct()),
      Seq("block_key"), "left_anti")
  }

  /** Map (main_id, sub_id [, score]) back to url space for output/eval. */
  private def attachUrls(pairsById: DataFrame, urlDim: DataFrame): DataFrame = {
    val extra = pairsById.columns.filter(c => c != "main_id" && c != "sub_id")
    pairsById
      .join(urlDim.select(col("id").as("main_id"), col("url").as("main_url")), "main_id")
      .join(urlDim.select(col("id").as("sub_id"), col("url").as("sub_url")), "sub_id")
      .select((Seq("main_url", "sub_url") ++ extra).map(col): _*)
  }

  /**
   * Exact resume from a checkpoint directory: reloads the newest complete
   * iteration snapshot and continues clustering from there — blocking and
   * scoring are not re-run. Final clusters are identical to an uninterrupted
   * run (verified by ResumeSpec).
   */
  def resumeFrom(pages: DataFrame, dir: String, cfg: Config = Config()): DataFrame = {
    val spark = pages.sparkSession
    val store = new CheckpointStore(spark, dir)
    val k = store.latestIteration().getOrElse(
      throw new IllegalStateException(s"no checkpoint under $dir"))
    val snapshot = store.loadIteration(k)
    val edges0 = store.loadIteration(0) // scored edges (src, dst, score)
    val components = ConnectedComponents.run(
      snapshot.select("src", "dst"), Some(store), startIter = k)
    val records = normalize(pages, cfg.idBits)
      .select("id", "url", "source", "warc_ts", "lang")
    buildIntegrated(records,
      edges0.select(col("src").as("main_id"), col("dst").as("sub_id"), col("score")),
      components)
  }

  private def buildIntegrated(records: DataFrame, edges: DataFrame,
                              components: DataFrame): DataFrame = {
    // per-record confidence: best accepted edge score on either side
    // (edges are tiny — one row per accepted match — so this frame
    // broadcasts into the join below)
    val conf = edges.select(col("main_id").as("id"), col("score"))
      .union(edges.select(col("sub_id").as("id"), col("score")))
      .groupBy("id").agg(max("score").as("best_score"))
    // Shuffle inventory (the record stream is the wide side): the two id
    // joins share ONE exchange — conf joins while the stream is still
    // partitioned by id from the components join — and MatchID is a window
    // aggregate over cid, ONE more exchange, instead of the groupBy +
    // join-back shape that re-executes the upstream join per DAG branch and
    // re-shuffles the stream a second time for the join-back. Two
    // record-stream exchanges total (was four). A pathological giant
    // cluster makes one window task heavy (the buffer spills via
    // ExternalAppendOnlyUnsafeRowArray, never OOMs); cluster sizes here are
    // entity-bounded, and the agg+join-back shape remains the AQE-splittable
    // fallback if a corpus ever concentrates one component.
    val withComp = records.select(col("id"), col("url"), col("source"),
        col("warc_ts"), col("lang"))
      .join(components.withColumnRenamed("node", "id"), Seq("id"), "left")
      .join(conf, Seq("id"), "left")
      .withColumn("cid", coalesce(col("component"), col("id")))
    // MatchID = smallest url in the cluster: deterministic, human-readable,
    // and independent of the id hashing scheme
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy("cid")
    withComp
      .withColumn("MatchID", min("url").over(byCluster))
      .select(
        col("url").as("RecordId"),
        col("source").as("InputSourceARN"),
        col("MatchID"),
        coalesce(col("best_score"), lit(1.0)).as("ConfidenceLevel"),
        col("warc_ts"), col("lang"))
  }

  /** Predicted cross-source pairs implied by the integrated table. */
  def predictedPairs(integrated: DataFrame): DataFrame = {
    val main = integrated.filter(col("InputSourceARN") === "main")
      .select(col("MatchID"), col("RecordId").as("main_url"))
    val sub = integrated.filter(col("InputSourceARN") === "sub")
      .select(col("MatchID"), col("RecordId").as("sub_url"))
    main.join(sub, "MatchID").select("main_url", "sub_url")
  }
}
