package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.Pins
import graft.operators.{AsOfJoin, RangeJoin, SkewJoin}
import graft.pipeline.{Dedup, FeatureStats, Linkage, Profiling, Sampling, Similarity, TextAnalysis, TextRetrieval}

/**
 * The user-facing library surface — every data-curation operator on ARBITRARY DataFrames,
 * not just the test tables. This is the "switch from the reference" entry point: SQL-shaped
 * work goes through plain Spark SQL / DataFrame API (graft adds nothing and that is the
 * point — Catalyst/Tungsten are the execution engine); the operators below are the
 * capabilities Spark itself lacks, each distributed-by-construction and spec/oracle-proven
 * on the driver corpus (SURVEY.md §2.4-§2.5).
 *
 * Expected schemas: text ops take (doc_id: Long, text: String, ...); vector ops take
 * (vec_id: Long, embedding: Array[Float]) with queries as (query_id, embedding). Extra
 * columns pass through where the op returns rows of the input.
 *
 * Pins: an operator frees every checkpoint and cache its result does not read. A
 * returned frame that still reads one (the cached gram frame of [[ngramJaccardPairs]],
 * the last checkpoint of an iterative operator) belongs to the caller: run it, then
 * free it with `graft.Pins.release(frame)`.
 */
object Graft {

  private def requireCols(df: DataFrame, what: String, cols: String*): DataFrame = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$what frame needs columns ${cols.mkString("(", ", ", ")")}; " +
        s"missing ${missing.mkString(", ")} in schema ${df.columns.mkString("(", ", ", ")")}")
    df
  }
  private def docsFrame(df: DataFrame): DataFrame = requireCols(df, "documents", "doc_id", "text")
  private def vecsFrame(df: DataFrame): DataFrame = requireCols(df, "vectors", "vec_id", "embedding")
  private def queryFrame(df: DataFrame): DataFrame = requireCols(df, "queries", "query_id", "embedding")

  // ---- deduplication -------------------------------------------------------------------

  /** Verified MinHash-LSH near-duplicate pairs (a_id, b_id, jacc >= threshold). */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    Dedup.minhashPairs(docsFrame(docs), threshold)

  /** Exact n-gram-Jaccard pairs via bounded candidate generation (equals exhaustive).
    * The gram frame is cached (MEMORY_AND_DISK, LRU-evicted under pressure) because it
    * feeds both candidate generation and intersection counting; the returned frame
    * reads it, so free it with `Pins.release` once the frame has run. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    Dedup.ngramJaccardPairs(Pins.cache(Dedup.gramHashSets(docsFrame(docs))), threshold)

  /** SimHash pairs within a hamming radius (64-bit signatures, pigeonhole-banded). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 7): DataFrame =
    Dedup.simhashPairs(docsFrame(docs), maxHamming)

  /** Cluster id per document appearing in a near-dup pair (connected components). */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.8): DataFrame = Pins.scoped(
    Dedup.connectedComponents(nearDupPairs(docs, threshold).select(col("a_id"), col("b_id"))))

  /** The deduplicated corpus: exact dups keep min doc_id, near-dup clusters keep one
    * representative. Returns the KEPT input rows with all their columns. */
  def dedupe(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    Dedup.dedupedCorpus(docsFrame(docs), threshold)

  /** Embedding near-dup pairs, LSH-bucketed (the form that survives 100 TB). */
  def embeddingNearDupPairs(vecs: DataFrame, tau: Double = 0.45): DataFrame =
    Dedup.embeddingPairsLsh(vecsFrame(vecs), tau)

  /** SemDeDup semantic dedup: k-means-cluster the embedding space, keep-min-id within
    * each cluster at cosine >= tau. Returns (vec_id, cluster, keep 0/1) for every
    * vector; per-cluster work is bounded by cluster size — scale by raising k. */
  def semanticDedup(vecs: DataFrame, k: Int = -1, tau: Double = 0.45): DataFrame =
    graft.pipeline.SemanticDedup.semanticDedup(vecsFrame(vecs), k, tau)

  /** Segment-level exact dedup (C4/RefinedWeb line-dedup analog): every distinct k-token
    * segment survives only at its first corpus-wide occurrence; docs are reassembled from
    * surviving segments. Returns (doc_id, n_segs, n_kept, dedup_text) for every doc. */
  def dedupSegments(docs: DataFrame, k: Int = 8): DataFrame =
    Dedup.segmentDedup(docsFrame(docs), k)

  /** Maximal verbatim duplicated token spans (Lee et al. ACL'22 substring dedup at
    * granularity L): (doc_id, span_start, span_end, n_grams), 1-based inclusive. */
  def duplicateSpans(docs: DataFrame, spanLen: Int = 15): DataFrame =
    Dedup.duplicateSpans(docsFrame(docs), spanLen)

  /** Remove the listed token spans from docs (the removal half of substring dedup) —
    * overlaps merge; a doc cut to nothing keeps an empty string. */
  def cutSpans(docs: DataFrame, spans: DataFrame): DataFrame =
    Dedup.cutSpans(docsFrame(docs),
      requireCols(spans, "spans", "doc_id", "span_start", "span_end"))

  // ---- similarity search ---------------------------------------------------------------

  /** Exact top-k cosine neighbors per query (one corpus scan, bounded-heap re-rank). */
  def topKNeighbors(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    Similarity.topKNeighbors(vecsFrame(corpus), queryFrame(queries), k)

  /** Per-vector symmetric int8 quantization (vec_id, scale, qvec) — 4x less memory/IO
    * for corpus-scale ANN; pair with [[dequantizeInt8]] (or re-rank with the float
    * originals when boundary exactness matters). */
  def quantizeInt8(vecs: DataFrame): DataFrame =
    Similarity.quantizeInt8(vecsFrame(vecs))

  /** Reconstruct float vectors from [[quantizeInt8]] output. */
  def dequantizeInt8(quantized: DataFrame): DataFrame =
    Similarity.dequantizeInt8(requireCols(quantized, "quantized", "vec_id", "scale", "qvec"))

  /** Approximate top-k via multi-table random-hyperplane LSH (recall-spec'd). */
  def topKNeighborsLsh(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    Similarity.topKNeighborsLsh(vecsFrame(corpus), queryFrame(queries), k)

  /** Approximate top-k via sampled-k-means IVF probing (recall-spec'd). */
  def topKNeighborsIvf(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    Similarity.topKNeighborsIvf(vecsFrame(corpus), queryFrame(queries), k)

  /** Reciprocal-rank fusion of any (query_id, neighbor_id, rank) rankings — the standard
    * hybrid-retrieval combiner (no score calibration needed between lists). */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 60, topK: Int = 5): DataFrame =
    Similarity.rrfFuse(
      rankings.map(requireCols(_, "ranking", "query_id", "neighbor_id", "rank")), k, topK)

  // ---- text analysis -------------------------------------------------------------------

  def tokenCounts(docs: DataFrame): DataFrame = TextAnalysis.tokenCounts(docsFrame(docs))
  def qualityFeatures(docs: DataFrame): DataFrame = TextAnalysis.qualityFeatures(docsFrame(docs))
  def repetitionSignals(docs: DataFrame): DataFrame = TextAnalysis.repetitionSignals(docsFrame(docs))
  def languageId(docs: DataFrame): DataFrame = TextAnalysis.languageId(docsFrame(docs))
  def fingerprints(docs: DataFrame): DataFrame = TextAnalysis.fingerprints(docsFrame(docs))
  /** Redact emails/phones/IPv4s; returns per-doc redaction counts + clean_text. */
  def piiScrub(docs: DataFrame): DataFrame = TextAnalysis.piiScrub(docsFrame(docs))
  /** Lowercase, strip punctuation, collapse whitespace (pre-tokenization canon form). */
  def normalize(docs: DataFrame): DataFrame = TextAnalysis.normalize(docsFrame(docs))
  /** Overlapping token-window chunks (doc_id, chunk_id, n_chunk_tokens, chunk_text) —
    * map-only, zero shuffle; the context-window prep step before tokenizer packing. */
  def chunk(docs: DataFrame, chunkSize: Int = 512, stride: Int = 384): DataFrame =
    TextAnalysis.chunk(docsFrame(docs), chunkSize, stride)

  /** Benchmark decontamination: per candidate doc, the fraction of its distinct 3-gram
    * shingles found anywhere in `benchmark` (doc_id, n_grams, n_hit, containment). */
  def contamination(candidates: DataFrame, benchmark: DataFrame): DataFrame =
    Dedup.contamination(docsFrame(candidates), docsFrame(benchmark))

  /** Winnowing fingerprints (MOSS): (doc_id, pos, h) — rightmost-min of each w-window
    * over the token-3-gram md5 hash sequence; per-doc kernel, no key shuffle. */
  def winnow(docs: DataFrame, window: Int = 4): DataFrame =
    Dedup.winnowFingerprints(docsFrame(docs), window)

  /** Greedy sequence packing into `budget`-token bins per stream (docs stay whole,
    * oversized docs get singleton bins) — deterministic in doc_id order; streams shard
    * into `shardDocs`-doc units packed independently and stitched to stream-dense bin
    * ids, so no whole stream must fit one partition.
    * Returns (stream, doc_id, n_tokens, bin_id, bin_fill). */
  def packGreedy(docs: DataFrame, streamCol: String, budget: Int,
      shardDocs: Long = 1L << 20): DataFrame =
    graft.pipeline.Packing.packGreedy(
      requireCols(docs, "documents", "doc_id", "text", streamCol), streamCol, budget,
      shardDocs)

  /** Tokenize docs with a trained merge table (broadcast rules, map-only kernel with a
    * per-partition word memo): (doc_id, n_tokens, n_unique) per document. */
  def bpeEncode(docs: DataFrame, rules: DataFrame): DataFrame =
    graft.pipeline.BpeTrainer.bpeEncode(docsFrame(docs), rules)

  /** BPE merge-rule training (Sennrich et al. ACL'16): distributed word counting, then
    * the classic merge loop over the bounded top-`vocabCap` word table (deterministic
    * lexicographic tie-break). Returns (rank, left, right, merged, support). */
  def bpeTrain(docs: DataFrame, numMerges: Int = 100, vocabCap: Int = 10000): DataFrame =
    graft.pipeline.BpeTrainer.bpeTrain(docsFrame(docs), numMerges, vocabCap)

  /** Approximate heavy hitters (SpaceSaving): top-k values of `itemCol` with
    * (est, err) bounds; per-task state capped at `capacity` counters at any scale. */
  def approxTopK(df: DataFrame, itemCol: String, k: Int = 20,
      capacity: Int = 4096): DataFrame =
    graft.pipeline.HeavyHitters.approxTopK(
      requireCols(df, "items", itemCol).select(col(itemCol)), k, capacity)

  /** Corpus-wide top-k bigrams by count (map-side-combined; TakeOrdered final). */
  def topBigrams(docs: DataFrame, k: Int = 20): DataFrame =
    TextAnalysis.topBigrams(docsFrame(docs), k)

  /** CCNet-style corpus-LM quality score: unigram cross-entropy of each doc against the
    * corpus itself (doc_id, n_tokens, xent) — low = stereotypical, high = rare-token
    * soup. Vocabulary-sized shuffle; scoring join broadcasts when the vocab fits. */
  def perplexityScores(docs: DataFrame): DataFrame =
    TextAnalysis.perplexityScores(docsFrame(docs))

  /** Top-k vocabulary with cumulative corpus coverage (rank, tok, cnt, cum_cov) — the
    * Zipf report a tokenizer-vocab decision truncates. */
  /** DSIR importance scores: mean per-token ln(p_target/p_corpus) under add-one
    * unigram LMs; `isTarget` marks the rows defining the target distribution.
    * Compose with a rank cut (e.g. topKPerKey / orderBy.limit) to select. */
  def dsirScores(docs: DataFrame, isTarget: org.apache.spark.sql.Column): DataFrame =
    TextAnalysis.dsirScores(docsFrame(docs), isTarget)

  def vocabCoverage(docs: DataFrame, k: Int = 30): DataFrame =
    TextAnalysis.vocabCoverage(docsFrame(docs), k)

  /** Zipf rank-frequency fit over the top-k vocabulary: one-row
    * (n_ranks, slope, intercept, R²) corpus-health fingerprint. */
  def zipfFit(docs: DataFrame, k: Int = 500): DataFrame =
    TextAnalysis.zipfFit(docsFrame(docs), k)

  // ---- deterministic sampling ----------------------------------------------------------

  /** Hash-threshold uniform sample — reproducible across retries and repartitionings. */
  def sampleUniform(df: DataFrame): DataFrame =
    Sampling.sampledUniform(requireCols(df, "sample input", "doc_id"))
  def sampleStratified(docs: DataFrame): DataFrame =
    Sampling.sampledStratified(requireCols(docs, "stratified sample input", "doc_id", "lang"))
  /** Deterministic "at most k rows per key" cap (anti-domination guard: cap docs per
    * domain/source/lang). Rides the native TopKPerKey bounded heaps — the exchange moves
    * O(k·keys) rows, never the corpus. Input needs a doc_id column (the hash seed). */
  def sampleKPerKey(df: DataFrame, keys: Seq[String], k: Int): DataFrame =
    Sampling.sampleKPerKey(requireCols(df, "input", "doc_id" +: keys: _*), keys, k)

  /** Deterministic train/val/test assignment (~5/5/90) as an added `split` column. */
  def splitAssign(df: DataFrame): DataFrame =
    Sampling.splitAssigned(requireCols(df, "input", "doc_id"))

  /** Seed-deterministic global shuffle for training export: pseudorandom (shard, pos)
    * per row — hash repartition + per-shard local sort, never a global sort. */
  def shuffleShards(df: DataFrame, numShards: Int = 8, seed: String = "graft"): DataFrame =
    Sampling.shuffleAssigned(requireCols(df, "input", "doc_id"), numShards, seed)

  /** Deterministic source-mixture up/down-weighting: floor(w) copies + Bernoulli(frac(w))
    * by id hash — retry-stable replication for corpus mixing. `weights` maps source name
    * to its blend weight; unlisted sources get `defaultWeight`. */
  def mixtureWeighted(docs: DataFrame, weights: Map[String, Double],
      defaultWeight: Double = 1.0): DataFrame =
    Sampling.mixtureWeighted(
      requireCols(docs, "mixture input", "doc_id", "source"), weights, defaultWeight)

  // ---- relational operators Spark lacks ------------------------------------------------

  /** Exact top-k rows per key via the native bounded-heap operator (no partition sort). */
  def topKPerKey(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[(String, Boolean)], k: Int): DataFrame =
    org.apache.spark.sql.graft.TopKPerKey(df, keyCols, orderCols, k)

  /** As-of join: enrich each left row with the latest right payload at or before its
    * timestamp (union + partition-local window; one shuffle on the key). */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, payload: Seq[String]): DataFrame =
    AsOfJoin.backward(left, right, key, leftTs, rightTs, payload)

  /** Point-in-interval join as a binned equi-join (no nested loop at scale). */
  def rangeJoin(points: DataFrame, intervals: DataFrame, pointCol: String,
      loCol: String, hiCol: String, binWidth: Double): DataFrame =
    RangeJoin.pointInInterval(points, intervals, pointCol, loCol, hiCol, binWidth)

  /** Inner equi-join with deterministic salting for pathological key skew; the
    * discriminator is any probe-side column with per-row variety. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      discriminator: org.apache.spark.sql.Column, salts: Int = 16): DataFrame =
    SkewJoin.saltedInner(probe, build, key, discriminator, salts)

  /** Fixed-iteration damped PageRank over a symmetric (src, dst) edge list; no
    * exchange per iteration up to 2M vertices, one past that; O(1) plan size in
    * iterations. */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85): DataFrame =
    graft.operators.GraphOps.pageRank(
      requireCols(edges, "edges", "src", "dst"), iterations, damping)

  /** Bloom-filter semi-join reduction: pre-filter the huge probe side with a broadcast
    * Bloom filter of build keys before the real join's shuffle — result is EXACTLY the
    * inner join (false positives die in the join); shuffle carries |matching| +
    * fpp·|probe| rows instead of |probe|. */
  def bloomSemiJoin(probe: DataFrame, build: DataFrame, key: String,
      expectedItems: Long, fpp: Double = 0.03): DataFrame =
    graft.operators.BloomJoin.bloomSemiJoin(
      requireCols(probe, "probe", key), requireCols(build, "build", key),
      key, expectedItems, fpp)

  /** Multi-source BFS: minimum hops from any seed (id column), bounded at maxHops;
    * frontier-based, early exit when the frontier drains. */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    graft.operators.GraphOps.bfs(
      requireCols(edges, "edges", "src", "dst"), requireCols(seeds, "seeds", "id"), maxHops)

  /** Exact global triangle count of an undirected (src, dst) edge list; degree-ordered
    * orientation bounds wedge work at O(m^1.5) regardless of hub skew. */
  def triangleCount(edges: DataFrame): DataFrame =
    graft.operators.GraphOps.triangleCount(requireCols(edges, "edges", "src", "dst"))

  /** Synchronous label-propagation communities over a symmetric (src, dst) edge list:
    * fixed deterministic rounds (most-frequent neighbor label, ties to the smallest). */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    graft.operators.GraphOps.labelPropagation(
      requireCols(edges, "edges", "src", "dst"), rounds)

  /** Bounded-round Bellman-Ford shortest paths over weighted (src, dst, w) edges from
    * a seed set (id column): exact <=rounds-edge distances, delta-iteration frontier. */
  def shortestPaths(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame =
    graft.operators.GraphOps.sssp(
      requireCols(edges, "edges", "src", "dst", "w"),
      requireCols(sources, "sources", "id"), rounds)

  /** Bounded-round k-core peeling over a symmetric (src, dst) edge list: iteratively
    * delete vertices of degree < k; returns survivors with their peeled-graph degree. */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    graft.operators.GraphOps.kcorePeel(
      requireCols(edges, "edges", "src", "dst"), k, rounds)

  /** Dense global row ids 1..N in `orderCol` order without a single-partition window:
    * range shuffle + O(partitions) offset bookkeeping + map-only assignment. */
  def globalRowIds(df: DataFrame, orderCol: String, numParts: Int = 32): DataFrame =
    Sampling.globalRowIds(requireCols(df, "input", orderCol), orderCol, numParts)

  /** Deterministic weighted sampling without replacement (Efraimidis-Spirakis keys on
    * the doc-id hash): the k largest ln(u)/weight keys. */
  def weightedSample(docs: DataFrame, weightCol: String, k: Int): DataFrame =
    Sampling.weightedSample(requireCols(docs, "docs", "doc_id", weightCol), weightCol, k)

  /** Bloom-prefiltered benchmark decontamination: identical output to `contamination`,
    * with the candidate gram stream cut map-side by a broadcast Bloom filter over the
    * benchmark vocabulary before the verification join. */
  def contaminationBloom(candidates: DataFrame, benchmark: DataFrame,
      fpp: Double = 0.01): DataFrame =
    Dedup.contaminationBloom(docsFrame(candidates), docsFrame(benchmark), fpp)

  /** Mergeable equi-width histogram cells at the finest dimension grain (exact bucket
    * counts); serve coarser quantile rollups with mergeHistograms. */
  def buildHistograms(df: DataFrame, dims: Seq[String], valueCol: String,
      width: Double, nBuckets: Int): DataFrame =
    Profiling.buildHistograms(
      requireCols(df, "input", (dims :+ valueCol): _*), dims, valueCol, width, nBuckets)

  def mergeHistograms(hist: DataFrame, keepDims: Seq[String], width: Double): DataFrame =
    Profiling.mergeHistograms(
      requireCols(hist, "histograms", (keepDims ++ Seq("bucket", "cnt")): _*), keepDims, width)

  /** Equi-depth discretization: bucket 1..nBins per key group at the exact interpolated
    * quantile boundaries (buffer-free sort path; boundary ties take the lower bucket). */
  def equidepthBins(df: DataFrame, keys: Seq[String], valueCol: String,
      nBins: Int): DataFrame =
    graft.operators.Percentiles.equidepthBins(
      requireCols(df, "input", (keys :+ valueCol): _*), keys, valueCol, nBins)

  /** Deterministic Poisson bootstrap: per-replicate resample size and mean of
    * `valueCol`, reproducible across runs/retries (hash-derived draws, no rand()). */
  def bootstrapStats(docs: DataFrame, valueCol: String, nReplicates: Int): DataFrame =
    Sampling.bootstrapStats(
      requireCols(docs, "docs", "doc_id", valueCol), valueCol, nReplicates)

  /** Multinomial naive-Bayes classifier trained on `labelCol` and applied to every
    * document: (doc_id, pred, score6), deterministic argmax. */
  def nbClassify(docs: DataFrame, labelCol: String): DataFrame =
    TextAnalysis.nbScores(
      requireCols(docs, "docs", "doc_id", "text", labelCol), labelCol)

  /** Incremental aggregate-view maintenance: state (key,cnt,total) absorbs a CDC batch
    * (key, op∈{+1,-1}, value) in one shuffle, without rescanning the base table. */
  def incrementalAgg(state: DataFrame, delta: DataFrame, key: String = "k",
      cntCol: String = "cnt", totalCol: String = "total",
      opCol: String = "op", valCol: String = "v"): DataFrame =
    graft.operators.MergeOps.incrementalAgg(
      requireCols(state, "state", key, cntCol, totalCol),
      requireCols(delta, "delta", key, opCol, valCol),
      key, cntCol, totalCol, opCol, valCol)

  /** Monthly resample of an irregular (key, ts, value) series: gap-free calendar grid
    * per key, zero-filled event counts, last-observation-carried-forward values. */
  def resampleMonthlyLocf(events: DataFrame, key: String, tsCol: String,
      valCol: String): DataFrame =
    graft.operators.Resample.monthlyLocf(
      requireCols(events, "events", key, tsCol, valCol), key, tsCol, valCol)

  /** Mergeable HLL sketch table at the finest dimension grain; serve any coarser
    * rollup with mergeSketches — the base is never rescanned. */
  def buildSketches(df: DataFrame, dims: Seq[String], valueCol: String,
      lgK: Int = 12): DataFrame =
    Profiling.buildSketches(requireCols(df, "input", (dims :+ valueCol): _*), dims, valueCol, lgK)

  def mergeSketches(sketches: DataFrame, keepDims: Seq[String]): DataFrame =
    Profiling.mergeSketches(
      requireCols(sketches, "sketches", (keepDims :+ "sketch"): _*), keepDims)

  /** Record linkage: best clean match per dirty record by blocked Jaro-Winkler
    * comparison (native codegen expression; candidates only within equal `block`). */
  def linkRecords(clean: DataFrame, dirty: DataFrame, threshold: Double = 0.8): DataFrame =
    Linkage.linkRecords(
      requireCols(clean, "clean", "id", "name", "block"),
      requireCols(dirty, "dirty", "id", "name", "block"), threshold)

  /** Edit-distance banded similarity join: best clean match per dirty record at
    * Levenshtein distance <= maxDist, candidates only within equal `block`; a
    * length-difference pre-filter runs before the O(len²) comparator. */
  def editDistJoin(clean: DataFrame, dirty: DataFrame, maxDist: Int = 2): DataFrame =
    Linkage.editDistJoin(
      requireCols(clean, "clean", "id", "name", "block"),
      requireCols(dirty, "dirty", "id", "name", "block"), maxDist)

  /** Point-in-time dimension lookup: each fact row joined to the dimension version in
    * effect at its timestamp ([validFrom, validTo) half-open, NULL validTo = current).
    * THE leakage-free feature join for training pipelines. */
  def pointInTime(facts: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
      tsCol: String, validFrom: String = "valid_from",
      validTo: String = "valid_to"): DataFrame =
    graft.operators.TemporalOps.pointInTime(
      requireCols(facts, "facts", factKey, tsCol),
      requireCols(dim, "dim", dimKey, validFrom, validTo),
      factKey, dimKey, tsCol, validFrom, validTo)

  /** CDC snapshot diff: (key, change ∈ added|removed|changed, ...) — unchanged rows
    * are not emitted. One full-outer equi-join on the key. */
  def snapshotDiff(before: DataFrame, after: DataFrame, key: String,
      compareCols: Seq[String]): DataFrame =
    graft.operators.TemporalOps.snapshotDiff(
      requireCols(before, "before", (key +: compareCols): _*),
      requireCols(after, "after", (key +: compareCols): _*), key, compareCols)

  /** Feature–label dependence: one-row (mi6, chi2r) — mutual information (nats) and
    * chi-squared statistic of a (binned) feature column against a label column. */
  def featureDependence(df: DataFrame, feature: org.apache.spark.sql.Column,
      label: org.apache.spark.sql.Column): DataFrame =
    FeatureStats.dependence(df, feature, label)

  /** Per-document TF-IDF top-k characteristic terms (doc_id, rk, term, score6);
    * the per-doc cut rides the native TopKPerKey pre-limit. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame =
    TextRetrieval.tfidfTopTerms(docsFrame(docs), k)

  /** BM25 ranked retrieval: (doc_id, n_hits, score) for every document matching >= 1
    * query term. Rank cuts belong to the caller (compose with topKPerKey). */
  def bm25(docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    TextRetrieval.bm25(docsFrame(docs), queryTerms, k1, b)

  /** Exact interpolated percentiles by distributed sort + rank selection — no per-group
    * value buffering (the `percentile` aggregate's OOM risk at scale). Long form:
    * (keys..., q, value). See operators.Percentiles for the time/memory trade. */
  def percentiles(df: DataFrame, keys: Seq[String], valueCol: String,
      qs: Seq[Double]): DataFrame =
    graft.operators.Percentiles.exactBySort(df, keys, valueCol, qs)

  /** Robust per-group outlier scoring: each row gains (med, mad, robust_z) with
    * robust_z = |v − median|/(1.4826·MAD); median/MAD ride the buffer-free exact sort
    * path, so outliers cannot mask themselves the way they inflate a stddev. */
  def madOutliers(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    graft.operators.Percentiles.madOutliers(
      requireCols(df, "input", (keys :+ valueCol): _*), keys, valueCol)

  /** Per-source token-distribution diagnostics: (source, n_tokens, n_types, entropy6,
    * ttr6) — low entropy at high volume flags template/spam sources. */
  def sourceEntropy(docs: DataFrame): DataFrame =
    TextAnalysis.sourceEntropy(requireCols(docs, "documents", "source", "text"))

  /** One-scan table profile: per-column counts/nulls/ndv/extrema. The default is the
    * HLL++ ndv estimate (`exact = false`): exact multi-column `count(DISTINCT)` expands
    * the input via Catalyst Expand — one duplicate per distinct aggregate, ~6x for a
    * 5-column profile — which is the wrong plan at 100 TB. Pass `exact = true` only when
    * an exact ndv is worth a multiplied scan (the driver oracle query does, to hash-match
    * DuckDB). The default plan is Expand-free (asserted by GraftApiSpec). */
  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = false): DataFrame =
    Profiling.profile(df, cols, exact)

  /** Write `df` clustered on its dominant filter columns so parquet row-group min/max
    * skipping works (cluster DATE/numeric, not TIMESTAMP_NTZ — see LayoutWriter). */
  def writeClustered(df: DataFrame, path: String, clusterCols: Seq[String],
      targetFiles: Int = 0): Unit =
    graft.sources.LayoutWriter.writeClustered(df, path, clusterCols, targetFiles)

  /** Z-order (Morton) clustered write on TWO numeric columns: row-group skipping works
    * on predicates over EITHER column (the lakehouse OPTIMIZE ZORDER analog). */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      targetFiles: Int = 0): Unit =
    graft.sources.LayoutWriter.writeZOrdered(df, path, colA, colB, targetFiles)

  /** Z-order with equal-mass quantile buckets — keeps its skipping power on SKEWED
    * columns, where linear bucketing collapses the dense region into few buckets. */
  def writeZOrderedQuantile(df: DataFrame, path: String, colA: String, colB: String,
      targetFiles: Int = 0): Unit =
    graft.sources.LayoutWriter.writeZOrderedQuantile(df, path, colA, colB, targetFiles)

  /** Key-based upsert into a hive-partitioned parquet table; rewrites ONLY the
    * partitions the updates touch (dynamic partition overwrite). Not ACID — see
    * LayoutWriter.upsertPartitioned. */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
      updates: DataFrame, key: String, partitionCol: String): Unit =
    graft.sources.LayoutWriter.upsertPartitioned(spark, path, updates, key, partitionCol)

  // ---- multimodal + arrow-ipc ------------------------------------------------------------

  /** Real image decode (javax.imageio: PNG/JPEG/GIF/BMP) over (doc_id, payload) —
    * zero-shuffle; undecodable payloads dropped, not fatal. */
  def decodeImages(media: DataFrame): DataFrame =
    graft.pipeline.Multimodal.decodeImages(
      requireCols(media, "media", "doc_id", "payload")).toDF()

  /** Real audio decode (javax.sound.sampled: WAV/AIFF/AU) — rate/channels/frames/
    * duration/RMS; zero-shuffle, corrupt-drop. */
  def decodeAudios(media: DataFrame): DataFrame =
    graft.pipeline.Multimodal.decodeAudios(
      requireCols(media, "media", "doc_id", "payload")).toDF()

  /** Real video CONTAINER metadata (MP4 box walk + Matroska EBML walk) —
    * container/width/height/duration_s/n_tracks from the raw bytes, no codec;
    * zero-shuffle, non-video payloads dropped. */
  def decodeVideoMetas(media: DataFrame): DataFrame =
    graft.pipeline.Multimodal.decodeVideoMetas(
      requireCols(media, "media", "doc_id", "payload")).toDF()

  /** Real video FRAME decode for MJPEG-in-AVI (RIFF walk -> per-frame JPEG ->
    * javax.imageio pixels): (doc_id, frame_idx, width, height, mean_luma) for every
    * `everyNth`-th frame; zero-shuffle, non-AVI payloads dropped. Inter-coded codecs
    * (H.264/VP9/AV1) are metadata-only by contract — use decodeVideoMetas. */
  def decodeVideoFrames(media: DataFrame, everyNth: Int = 1): DataFrame =
    graft.pipeline.Multimodal.decodeVideoFrames(
      requireCols(media, "media", "doc_id", "payload"), everyNth).toDF()

  /** Read Arrow-IPC (`.arrow` / Feather v2) files: one file per task, schema from the
    * file footer. The reference's namesake source format. */
  def readArrow(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.sources.TableIO.readArrow(spark, path)

  /** Write a frame as Arrow-IPC, one `.arrow` file per partition, executor-side. */
  def writeArrow(df: DataFrame, path: String): Unit =
    org.apache.spark.sql.graft.ArrowIpc.write(df, path)

  // ---- analytics operators (round 5) -----------------------------------------------------

  /** 2-D Pareto skyline on (minimize `p_retailprice`-shaped `price`, maximize
    * `p_size`-shaped `size`); expects (p_partkey, p_retailprice, p_size). Partition-local
    * sweep prune + broadcast anti-join finalize — the base table never shuffles. */
  def skyline(points: DataFrame): DataFrame =
    graft.operators.AnalyticsOps.skyline(
      requireCols(points, "points", "p_partkey", "p_retailprice", "p_size"))

  /** Exact distributed cumulative sum of `value` over the total order `order` —
    * range repartition + in-partition running sum + partition-totals carry; appends
    * `cum`. Use decimal/integer values for bit-exact parity with a sequential scan. */
  def distributedCumSum(df: DataFrame, order: Seq[org.apache.spark.sql.Column],
      value: org.apache.spark.sql.Column): DataFrame =
    graft.operators.AnalyticsOps.distributedCumSum(df, order, value)

  /** Greedy MMR diversity re-ranking of brute-force candidates per query:
    * (query_id, rank, neighbor_id, mmr4). State per query = nCand vectors. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, nCand: Int = 20, k: Int = 5,
      lam: Double = 0.7): DataFrame = {
    // same candidate + greedy pipeline as Similarity.annMmr on arbitrary frames
    val c = vecsFrame(corpus); val q = queryFrame(queries)
    graft.pipeline.Similarity.mmrRerank(c, q, nCand, k, lam)
  }

  /** Interpolated Kneser-Ney bigram model (w1, w2, p) from a (w1, w2) pair frame. */
  def knBigramModel(pairs: DataFrame): DataFrame =
    graft.pipeline.LanguageModel.knModel(requireCols(pairs, "pairs", "w1", "w2"))

  /** Per-file min/max manifest write (range-clustered) for file-level data skipping. */
  def writeWithManifest(df: DataFrame, path: String, statsCols: Seq[String],
      numFiles: Int): Unit =
    graft.sources.FileSkipIndex.writeWithManifest(df, path, statsCols, numFiles)

  /** Range scan that reads ONLY manifest-overlapping files; exact vs full scan+filter. */
  def readPruned(spark: org.apache.spark.sql.SparkSession, path: String, c: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): DataFrame =
    graft.sources.FileSkipIndex.readPruned(spark, path, c, lo, hi)

  /** Streaming approximate top-k: sharded SpaceSaving with capacity-bounded keyed
    * state; Update-mode (shard, item, est, err) summaries each trigger. */
  def streamingTopK(items: org.apache.spark.sql.Dataset[String], capacity: Int,
      nShards: Int = 8): DataFrame =
    graft.streaming.StreamingTopK.topKStream(items, capacity, nShards)

  /** Streaming per-item frequency cap: sharded count-min state admits at most `cap`
    * occurrences of every item; Append-mode (item, est, admitted) per occurrence. */
  def streamingFrequencyCap(items: org.apache.spark.sql.Dataset[String], cap: Long,
      nShards: Int = 8): DataFrame =
    graft.streaming.FrequencyCap.capStream(items, cap, nShards)

  /** Quality-aware dedup: keep the highest-`priorityCol` row per exact/near-dup
    * cluster (ties to smallest doc_id) instead of dedupe's min-id representative. */
  def dedupeBy(docs: DataFrame, priorityCol: String, threshold: Double = 0.8): DataFrame =
    Dedup.dedupedCorpusBy(
      requireCols(docs, "documents", "doc_id", "text", priorityCol), priorityCol, threshold)

  /** Sketch twin of equidepthBins: t-digest boundaries (one fixed-state aggregation
    * pass) instead of the exact sort path — approximately equi-depth buckets. */
  def equidepthBinsApprox(df: DataFrame, keys: Seq[String], valueCol: String,
      nBins: Int): DataFrame =
    graft.operators.Percentiles.equidepthBinsApprox(
      requireCols(df, "input", (keys :+ valueCol): _*), keys, valueCol, nBins)

  /** Small-file compaction (Delta OPTIMIZE analog for plain parquet): bin-pack files
    * below `smallBytes` into <= `targetBytes` rewrites; work proportional to small-file
    * bytes, never table size. Returns (bins, files_removed, files_written, bytes). */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long, smallBytes: Long = Long.MaxValue): (Int, Int, Int, Long) =
    graft.sources.Compaction.compact(spark, path, targetBytes, smallBytes)

  // ---- geo / ml / time-series (round 5b) -------------------------------------------

  /** Epsilon-grid great-circle radius join: `left` (id, lat, lon) x `right`
    * (sid, slat, slon) → within-radius pairs + `dist` km. Plain equi-join on
    * radius-sized cells — the cross product never materializes. Keep |lat| <=
    * maxAbsLat on both sides (sizes the longitude cells). */
  def geoRadiusJoin(left: DataFrame, right: DataFrame, radiusKm: Double,
      maxAbsLat: Double = 85.0): DataFrame =
    graft.operators.SpatialOps.radiusJoin(
      requireCols(left, "left", "id", "lat", "lon"),
      requireCols(right, "right", "sid", "slat", "slon"), radiusKm, maxAbsLat)

  /** Distributed Lloyd's k-means on a (vec_id, embedding) frame over an exact
    * integer lattice — bit-deterministic across partitionings and reruns. Returns
    * the final (cid, vec_id, qe, dist, centroid_sum) assignment frame. */
  def kmeansAssign(emb: DataFrame, k: Int = 8, rounds: Int = 2): DataFrame =
    graft.pipeline.Clustering.kmeansAssign(vecsFrame(emb), k, rounds)

  /** One-pass closed-form OLS y = a0 + a1*x1 + a2*x2 (+R^2) over an
    * integer-quantized (x1, x2, y) frame; one row out. */
  def ols2(pts: DataFrame): DataFrame =
    graft.pipeline.Regression.ols2(requireCols(pts, "points", "x1", "x2", "y"))

  /** Exact dyadic exponential smoothing (alpha = 1/2) per key over a
    * (event_type, day, cnt) daily frame, with one-step backtest error. */
  def sesForecast(daily: DataFrame): DataFrame =
    graft.operators.Resample.sesOverDaily(
      requireCols(daily, "daily", "event_type", "day", "cnt"))

  /** Rolling 7-day Pearson correlation over a (day, x, y) daily count frame. */
  def rollingCorr(daily: DataFrame): DataFrame =
    graft.operators.Resample.rollingCorrDaily(
      requireCols(daily, "daily", "day", "x", "y"))

  /** Flesch reading-ease + word/syllable/sentence counts per (doc_id, text). */
  def readability(docs: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.readability(docsFrame(docs))

  /** Deflate compression-ratio quality signal per (doc_id, text) — the CCNet/Gopher
    * information-density heuristic; map-only. */
  def compressionSignal(docs: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.compressionSignal(docsFrame(docs))

  /** Hilbert-curve clustered write — z-order's locality upgrade (unit curve steps,
    * tighter per-file min/max rectangles, better two-axis skipping). */
  def writeHilbert(df: DataFrame, path: String, colA: String, colB: String,
      targetFiles: Int = 0): Unit =
    graft.sources.LayoutWriter.writeHilbert(df, path, colA, colB, targetFiles)

  /** Per-source corpus audit: fraction of docs passing each curation gate (length,
    * repetition mass, chars-per-token shape) and all gates — the admission screen
    * read before weighting sources into a training mix. */
  def curationReport(docs: DataFrame): DataFrame =
    graft.pipeline.TextAnalysis.curationReport(
      requireCols(docs, "documents", "doc_id", "text", "source"))

  /** Streaming EWMA control chart: per-key SES level + smoothed deviation in
    * flatMapGroupsWithState, flagging |err| > k deviations after warmup. */
  def streamingAnomaly(obs: org.apache.spark.sql.Dataset[graft.streaming.AnomalyMonitor.Obs],
      k: Double = 4.0, warmup: Int = 5): org.apache.spark.sql.Dataset[graft.streaming.AnomalyMonitor.Alert] =
    graft.streaming.AnomalyMonitor.detect(obs, k, warmup)

  /** Sample autocorrelation at lags 1..maxLag per key over a
    * (event_type, day, cnt) daily frame — exact-integer moments, one window pass. */
  def acf(daily: DataFrame, maxLag: Int = 7): DataFrame =
    graft.operators.TimeSeriesOps.acfDaily(
      requireCols(daily, "daily", "event_type", "day", "cnt"), maxLag)

  /** Closed-form ridge regression (L2 λ on slopes, intercept exempt) over an
    * integer-quantized (x1, x2, y) frame; same one-pass plan as [[ols2]]. */
  def ridge2(pts: DataFrame, lambda: Long): DataFrame =
    graft.pipeline.Regression.ridge2(requireCols(pts, "points", "x1", "x2", "y"), lambda)

  /** First principal component of (x1, x2, x3) by one exact moment pass + an
    * unrolled power iteration — PCA's distributed shape (9 numbers reduce, O(1) solve). */
  def pca3(pts: DataFrame): DataFrame =
    graft.pipeline.Regression.pcaPower3(requireCols(pts, "points", "x1", "x2", "x3"))

  /** Dunning log-likelihood-ratio (G²) collocations over (doc_id, text) — the
    * robust-at-low-counts complement to PMI. */
  def llrCollocations(docs: DataFrame, k: Int = 20, minCount: Long = 5): DataFrame =
    graft.pipeline.TextAnalysis.llrCollocations(docsFrame(docs), k, minCount)

  /** Per-file Bloom-index write for point lookups on an unclustered high-cardinality
    * key — the complement of writeWithManifest's min/max range skipping. */
  def writeWithBloomManifest(df: DataFrame, path: String, keyCol: String,
      numFiles: Int): Unit =
    graft.sources.FileSkipIndex.writeWithBloomManifest(df, path, keyCol, numFiles)

  /** Point lookup `keyCol = value` reading only bloom-candidate files (no false
    * negatives; exact parity with a full scan + filter). */
  def readPointLookup(spark: org.apache.spark.sql.SparkSession, path: String,
      keyCol: String, value: org.apache.spark.sql.Column): DataFrame =
    graft.sources.FileSkipIndex.readPointLookup(spark, path, keyCol, value)

  /** GROUP-atomic train/val/test assignment (GroupKFold's leakage guard): the fold
    * key is the group's hash, so correlated rows never straddle splits. */
  def splitAssignGrouped(df: DataFrame, groupCol: String): DataFrame =
    graft.pipeline.Sampling.splitAssignedGrouped(df, groupCol)

  /** Versioned snapshot commit (append) with time travel — see
    * [[graft.sources.VersionedTable]]; returns the new version. */
  def commitAppend(df: DataFrame, path: String): Long =
    graft.sources.VersionedTable.commitAppend(df, path)

  /** Versioned snapshot commit that logically replaces the table contents. */
  def commitOverwrite(df: DataFrame, path: String): Long =
    graft.sources.VersionedTable.commitOverwrite(df, path)

  /** Time-travel read of a committed version. */
  def readVersion(spark: org.apache.spark.sql.SparkSession, path: String, v: Long): DataFrame =
    graft.sources.VersionedTable.readVersion(spark, path, v)

  /** Change data feed between two committed versions of a versioned table: the
    * snapshot diff (inserts/deletes/updates by key) of their time-travel reads. */
  def changesBetween(spark: org.apache.spark.sql.SparkSession, path: String,
      fromV: Long, toV: Long, key: String, compareCols: Seq[String]): DataFrame =
    graft.operators.TemporalOps.snapshotDiff(
      graft.sources.VersionedTable.readVersion(spark, path, fromV),
      graft.sources.VersionedTable.readVersion(spark, path, toV), key, compareCols)

  /** Materialize the corpus as seed-deterministic shuffled JSONL shard files —
    * the training-ingest wire format (one file per shard, stable line order). */
  def exportJsonlShards(docs: DataFrame, path: String, numShards: Int = 8,
      seed: String = "graft"): Unit =
    graft.pipeline.Sampling.exportJsonlShards(docsFrame(docs), path, numShards, seed)

  /** Plan-fingerprint result cache: serve a DETERMINISTIC query from its materialized
    * previous answer when the plan and every input file are unchanged. */
  def cached(df: DataFrame, cacheDir: String): DataFrame =
    graft.plans.ResultCache.run(df, cacheDir)

  /** Materialize an aggregate view of `basePath` and register it for AUTOMATIC query
    * rewrite: later groupBy aggregates over the base whose group cols are a subset of
    * `groupCols` and whose aggregates are derivable (sum/count(*)/min/max/avg over
    * `valueCols`) transparently scan the view instead — freshness-checked per query,
    * so a stale view can never answer. */
  def createMaterializedView(spark: org.apache.spark.sql.SparkSession, basePath: String,
      mvPath: String, groupCols: Seq[String], valueCols: Seq[String]): Unit =
    graft.plans.MaterializedViews.create(spark, basePath, mvPath, groupCols, valueCols)

  /** Re-materialize a registered view after base changes (re-enables its rewrite). */
  def refreshMaterializedView(spark: org.apache.spark.sql.SparkSession,
      basePath: String): Unit =
    graft.plans.MaterializedViews.refresh(spark, basePath)

  /** Stop rewriting onto the view registered for `basePath` (files are kept). */
  def dropMaterializedView(basePath: String): Unit =
    graft.plans.MaterializedViews.deregister(basePath)

  /** Column-level lineage of a frame: (out_col, src_table, src_col) rows traced
    * through the analyzed plan — driver-side metadata, plan-sized cost. */
  def lineage(df: DataFrame): DataFrame = graft.plans.Lineage.lineage(df)

  /** Targeted delete-by-key over a hive-partitioned table (right-to-be-forgotten):
    * rewrites ONLY partitions holding a doomed key; returns rows deleted. */
  def deleteByKeys(spark: org.apache.spark.sql.SparkSession, path: String,
      keys: DataFrame, key: String, partitionCol: String): Long =
    graft.sources.LayoutWriter.deleteByKeys(spark, path, keys, key, partitionCol)

  /** Expectation-guarded write: land the batch only if every rule holds on every
    * row (one aggregation pass); returns the per-rule violation report. */
  def writeWithExpectations(df: DataFrame, path: String,
      expectations: Map[String, org.apache.spark.sql.Column]): Seq[graft.sources.GuardedWrite.Violation] =
    graft.sources.GuardedWrite.writeWithExpectations(df, path, expectations)
}
