package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

import graft.functions.FastHash
import graft.Pins
import graft.sources.TableIO

/**
 * Deduplication operators for LLM training-data pipelines — the capability layer the
 * reference never had (gazelle_plugin stops at SQL operators; graft extends the engine to
 * the data-curation workload it would actually run at 100 TB).
 *
 * Scale design:
 *  - Exact dedup groups on a 128-bit content hash (md5), never on raw text: shuffle rows
 *    are ~40 B instead of ~10 KB documents.
 *  - MinHash/LSH is O(n·bands) shuffle — candidate pairs are generated only inside LSH
 *    buckets, never via an O(n²) cross join. Bucket skew (a degenerate band hash) is
 *    bounded because signatures are uniform; a production guard would cap bucket size.
 *  - Candidate verification (exact Jaccard) joins the gram sets of candidate pairs only.
 *  - SimHash reduces each doc to 64 bits; banding the bits gives hamming-ball candidates
 *    with the same O(n·blocks) shuffle shape.
 *  - Embedding near-dup at this SF is a self-join; the 100 TB path is ann-style bucketing
 *    (see Similarity.annLsh) — both are provided.
 */
object Dedup {

  // ---- shared: token 3-gram shingles --------------------------------------------------

  /**
   * (doc_id, gh: array<long>, sz) — 64-bit-hashed distinct token 3-grams (docs with >= 3
   * tokens) plus the set size. Two deliberate scale choices:
   *  - All downstream joins/intersections run on 8-byte hashes, never gram strings: at
   *    100 TB the inverted-index shuffle carries (long, long) rows instead of ~30-byte
   *    text keys. Hash collisions are 64-bit-birthday rare; Jaccard over hashes equals
   *    Jaccard over strings in practice.
   *  - Shingling+hashing run as a typed-Dataset kernel (JIT-compiled closure), not as
   *    Catalyst higher-order functions: HOF lambdas (`transform`/`aggregate`) are
   *    evaluated interpreted per element — measured >10x slower than this loop — while
   *    everything downstream (joins, aggregation) stays declarative DataFrame.
   */
  def gramHashSets(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    TableIO.fanOut(docs).select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, raw) =>
        val text = if (raw == null) "" else raw // null text = no grams, like SQL nulls
        // limit -1 keeps trailing empty tokens, exactly like SQL string_split — Java's
        // default split would drop them and diverge from the DuckDB twins on
        // trailing-whitespace documents
        val toks = text.split(" ", -1)
        if (toks.length < 3) Iterator.empty
        else {
          val seen = new java.util.HashSet[java.lang.Long](toks.length * 2)
          val out = new scala.collection.mutable.ArrayBuffer[Long](toks.length)
          var i = 0
          while (i + 2 < toks.length) {
            val h = FastHash.hash64(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
            if (seen.add(h)) out += h
            i += 1
          }
          // sorted ascending: the verification kernel (sorted_intersect_size) runs a
          // two-pointer merge; order is irrelevant to every other consumer (minhash is a
          // min over the set, banding hashes the signature, sz is the length)
          val arr = out.toArray
          java.util.Arrays.sort(arr)
          Iterator.single((id, arr, arr.length))
        }
      }.toDF("doc_id", "gh", "sz")
  }

  /** Exact Jaccard for a (a_id, b_id) candidate-pair frame via hashed-gram intersection,
    * over the sorted gram arrays with the native two-pointer merge — codegen, zero
    * allocation per pair (array_intersect's per-row hash set measured ~10x slower over
    * 125k candidates). Threshold-aware (r14, adopted in bench_dedup_r14.json): the
    * kernel bails out of a pair's merge as soon as its best-achievable Jaccard falls
    * below the threshold (-1 sentinel; the row is dropped here, exactly as its true
    * sub-threshold jacc would be by the caller's `jacc >= threshold`). On candidate sets
    * that are >99.9% false positives — sf1 measured 15.7M candidates for 2.5k true
    * pairs — the gate cuts most of each false pair's O(|a|+|b|) merge. Pairs at or
    * above the threshold complete the full merge, so emitted (a_id, b_id, jacc) rows
    * carry their exact Jaccard (DedupSpec pins them against an all-pairs reference;
    * callers still apply their own `jacc >= threshold` filter on top). */
  private def verifiedJaccard(candidates: DataFrame, g: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.sortedIntersectSizeGated
    val ga = g.select(col("doc_id").as("a_id"), col("gh").as("ga"), col("sz").as("sza"))
    val gb = g.select(col("doc_id").as("b_id"), col("gh").as("gb"), col("sz").as("szb"))
    candidates
      .join(ga, "a_id").join(gb, "b_id")
      .withColumn("inter", sortedIntersectSizeGated(col("ga"), col("gb"), lit(threshold)))
      .filter(col("inter") >= 0)
      .withColumn("jacc",
        col("inter") * lit(1.0) / (col("sza") + col("szb") - col("inter")))
      .select(col("a_id"), col("b_id"), col("jacc"))
  }

  // ---- exact dedup ---------------------------------------------------------------------

  /** Exact dedup summary: total/distinct/duplicate counts, grouping on md5(text). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = TableIO.documents(spark, dir)
    val groups = docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("keeper"))
    groups.agg(
      sum(col("copies")).as("n_docs"),
      count(lit(1)).as("n_distinct"),
      sum(col("copies") - 1).as("n_dupes"))
  }

  val dedupExactSql: String =
    """SELECT CAST(sum(copies) AS BIGINT) AS n_docs,
      |  count(*) AS n_distinct,
      |  CAST(sum(copies - 1) AS BIGINT) AS n_dupes
      |FROM (SELECT md5(text) AS h, count(*) AS copies, min(doc_id) AS keeper
      |      FROM documents GROUP BY md5(text))""".stripMargin

  // ---- MinHash + LSH -------------------------------------------------------------------

  private val MinhashPrime = 2147483647L // 2^31 - 1; keeps a*h+b < 2^62 (ANSI-safe, no overflow)
  private val NumHashes = 128
  private val Bands = 32 // 4 rows per band -> s-curve threshold ~ (1/32)^(1/4) ~ 0.42

  private lazy val minhashCoefs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(20240812L)
    Seq.fill(NumHashes)((math.abs(rnd.nextLong()) % (MinhashPrime - 1) + 1,
      math.abs(rnd.nextLong()) % MinhashPrime))
  }

  /**
   * (doc_id, sig: array<long>[128]) MinHash signature via affine permutations of a 31-bit
   * gram hash: sig_k = min over grams of (a_k*h + b_k) mod p. Map-only (zero shuffle,
   * embarrassingly parallel at any scale), computed in a typed kernel — 128 x |grams|
   * multiply-mods per doc is pure CPU, the worst case for interpreted expressions. (The
   * naive explode + 128-column min-aggregate shape additionally shuffles n_docs x n_grams
   * rows; this shuffles nothing.)
   */
  def minhashSignatures(g: DataFrame): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    val coefA = minhashCoefs.map(_._1).toArray
    val coefB = minhashCoefs.map(_._2).toArray
    g.select(col("doc_id"), col("gh")).as[(Long, Array[Long])].map { case (id, gh) =>
      val hp = new Array[Long](gh.length)
      var i = 0
      while (i < gh.length) { hp(i) = ((gh(i) % MinhashPrime) + MinhashPrime) % MinhashPrime; i += 1 }
      val sig = new Array[Long](NumHashes)
      var k = 0
      while (k < NumHashes) {
        val a = coefA(k); val b = coefB(k)
        var m = Long.MaxValue
        i = 0
        while (i < hp.length) { // a,b,h < 2^31 keeps a*h+b < 2^62: no overflow
          val v = (hp(i) * a + b) % MinhashPrime
          if (v < m) m = v
          i += 1
        }
        sig(k) = m; k += 1
      }
      (id, sig)
    }.toDF("doc_id", "sig")
  }

  /** (doc_id, band, bh) — one row per LSH band; the shuffle key of the near-dup join. */
  def lshBands(signatures: DataFrame): DataFrame = {
    val spark = signatures.sparkSession
    import spark.implicits._
    signatures.select(col("doc_id"), col("sig")).as[(Long, Array[Long])]
      .flatMap { case (id, sig) =>
        (0 until Bands).iterator.map { b =>
          var h = b.toLong
          var r = 0
          while (r < 4) { h = FastHash.mix(h ^ sig(b * 4 + r)); r += 1 }
          (id, b, h)
        }
      }.toDF("doc_id", "band", "bh")
  }

  /**
   * MinHash-LSH near-duplicate pairs for ANY (doc_id, text) frame, verified with exact
   * Jaccard >= threshold. With 128 perms / 32 bands, recall at j >= 0.8 is
   * ~1 - (1 - 0.8^4)^32 > 0.999998, so the verified output equals the exhaustive-jaccard
   * oracle on any realistic data.
   */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    // cached (MEMORY_AND_DISK) because the gram frame feeds both signature generation
    // and exact verification; the returned frame reads it, so it is the caller's to
    // free with Pins.release once the frame has run
    val g = Pins.cache(gramHashSets(docs))
    // r14 measured-and-REJECTED: caching the band frame (it feeds both sides of the
    // candidate self-join) was a warm-pair wash at both scales — ReuseExchange already
    // canonicalizes the two renamed projections to ONE exchange, so the minhash kernel
    // runs once either way and the cache only added materialization overhead
    // (bench_dedup_cache_r14.json, guide §1: adopt only measured wins).
    minhashPairsFrom(g, lshBands(minhashSignatures(g)), threshold)
  }

  /** Pair generation from PRE-COMPUTED gram + band frames — callers that already hold
    * them (the streaming ingest gate) avoid re-shingling and re-signing the batch. */
  private[graft] def minhashPairsFrom(g: DataFrame, bands: DataFrame,
      threshold: Double): DataFrame = {
    val x = bands.select(col("doc_id").as("a_id"), col("band"), col("bh"))
    val y = bands.select(col("doc_id").as("b_id"), col("band"), col("bh"))
    val candidates = x.join(y, Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    verifiedJaccard(candidates, g, threshold) // early-exit merge, see its doc
      .filter(col("jacc") >= threshold)
  }

  def dedupMinhash(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    minhashPairs(TableIO.documents(spark, dir), threshold)
      .orderBy(col("a_id"), col("b_id"))

  /** Shared oracle fragment: the grams CTE body + jaccard pair predicate (single source
    * of truth — the minhash, ngram, components, and corpus oracles all splice these). */
  private val GramsCteSql: String =
    """grams AS (
      |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                for i in range(1, len(t)-1)]) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3)""".stripMargin

  private def jaccardPredSql(threshold: Double): String =
    s"""a.doc_id < b.doc_id
       |    AND len(list_intersect(a.g, b.g)) * 1.0
       |      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= $threshold""".stripMargin

  /** Exhaustive-jaccard oracle (DuckDB explores all pairs; graft only LSH candidates). */
  def jaccardPairsSql(threshold: Double): String =
    s"""WITH $GramsCteSql
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  len(list_intersect(a.g, b.g)) * 1.0
       |    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jacc
       |FROM grams a, grams b
       |WHERE ${jaccardPredSql(threshold)}
       |ORDER BY a_id, b_id""".stripMargin

  // ---- n-gram Jaccard via inverted index ----------------------------------------------

  /**
   * Two-sided prefix-filter index (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07
   * All-Pairs; Xiao et al. WWW'08 PPJoin): under a global gram order (ascending document
   * frequency, gram hash as tiebreak — a total order), any pair with jaccard >= t shares
   * at least one gram inside BOTH docs' prefixes of length |d| - ceil(t·|d|) + 1.
   *
   * Proof of the lemma this rests on: J(x,y) >= t implies |x∩y| >= ceil(t·max(|x|,|y|))
   * =: α. Let w be the ORDER-SMALLEST common gram. If w sat outside x's prefix it would
   * sit among x's last ceil(t·|x|) - 1 < α positions; every common gram orders >= w, so
   * all α of them would have to fit there — contradiction. Same for y; hence w is in both
   * prefixes.
   *
   * Scale properties: indexing only prefixes (~(1-t)·|d| grams/doc) and ordering by
   * ascending df means the index holds each doc's RAREST grams — corpus-frequent
   * stop-grams order last and fall out of prefixes entirely, so the candidate self-join's
   * fan-out is Σ df² over rare grams, not over the stop-gram tail. A duplication cluster's
   * shared grams DO stay in its prefixes (inside the cluster they are each doc's rarest),
   * so its C(n,2) pairs — the true answer — still generate. Round-2's absolute-df-cap
   * variant needed a separate cluster-doc lane for exactly that case and cost 3 extra
   * index branches + 2 caches; the prefix index is one frame, no cache, and benched 2.5x
   * faster end-to-end at sf0.1. DedupSpec pins completeness (theorem check vs exhaustive
   * truth), the zero-fan-out stop-gram case, and a 300-doc duplication cluster.
   */
  private def prefixIndex(g: DataFrame, threshold: Double): DataFrame = {
    val inv = g.select(col("doc_id"), col("sz"), explode(col("gh")).as("h"))
    val gramDf = inv.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    inv.join(gramDf, Seq("h"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("doc_id"), col("h"), col("rk"), col("sz"))
  }

  /**
   * Complete candidate-pair set for jaccard >= threshold (see [[prefixIndex]]), with
   * PPJoin's two other EXACT per-row filters applied before the pair distinct — on a
   * template-heavy corpus they cut candidates ~3x (measured 409k -> 125k at sf0.1):
   *  - length ratio: J >= t forces t·|a| <= |b| <= |a|/t (overlap <= min size, >= t·max).
   *  - positional: J >= t forces overlap >= ceil(t/(1+t)·(|a|+|b|)); for the
   *    order-SMALLEST common gram w every common gram sits at rank >= rk(w) in both
   *    docs, so overlap <= min(|a| - rk_a(w), |b| - rk_b(w)) + 1. Rows for other shared
   *    grams may fail the bound, but each true pair always keeps its w row (w provably
   *    lives in both prefixes), so filtering per matched row loses nothing.
   */
  def ngramCandidates(g: DataFrame, threshold: Double): DataFrame = {
    val p = prefixIndex(g, threshold)
    val a = p.select(col("doc_id").as("a_id"), col("h"), col("rk").as("rka"), col("sz").as("sza"))
    val b = p.select(col("doc_id").as("b_id"), col("h"), col("rk").as("rkb"), col("sz").as("szb"))
    // r14 measured-and-REJECTED: applying the positional bound per PAIR on the
    // aggregated min ranks (min(rka)/min(rkb) both belong to the pair's order-smallest
    // shared prefix gram, whose bound is the valid tight one) killed exactly ZERO of
    // the 15.7M sf1 candidates — at t=0.5 the prefix ranks are small enough that the
    // bound always clears — so the groupBy-with-mins just re-spelled the distinct()
    // at equal cost. Kept as the simpler any-row form; the verification COST is
    // attacked in the kernel instead (see [[verifiedJaccard]]).
    a.join(b, Seq("h"))
      .filter(col("a_id") < col("b_id"))
      .filter(least(col("sza"), col("szb")) >= lit(threshold) * greatest(col("sza"), col("szb")))
      .filter(least(col("sza") - col("rka"), col("szb") - col("rkb")) + 1 >=
        ceil(lit(threshold / (1 + threshold)) * (col("sza") + col("szb"))))
      .select(col("a_id"), col("b_id")).distinct()
  }

  /**
   * Exact jaccard >= threshold pairs for a gram frame: prefix-filtered candidates, then
   * exact verification over the candidates' gram sets only. (Per-pair array_intersect is
   * the right verification here BECAUSE candidates are few — prefix filtering leaves
   * ~true-pairs + a small false-positive margin; running intersections through the full
   * inverted index, as round 2 did, re-shuffles every index row per DAG branch instead.)
   */
  def ngramJaccardPairs(g: DataFrame, threshold: Double): DataFrame =
    verifiedJaccard(ngramCandidates(g, threshold), g, threshold) // early-exit merge
      .filter(col("jacc") >= threshold)

  /** N-gram Jaccard near-dup over the documents table (see [[ngramJaccardPairs]]) —
    * equals the exhaustive-jaccard oracle, with bounded candidate generation. The
    * cached gram frame feeds candidates and verification; the returned frame reads
    * it, so the caller frees it with `Pins.release`. */
  def dedupNgramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val g = Pins.cache(gramHashSets(TableIO.documents(spark, dir)))
    ngramJaccardPairs(g, threshold).orderBy(col("a_id"), col("b_id"))
  }

  // ---- SimHash -------------------------------------------------------------------------



  /**
   * (doc_id, simhash) — 64-bit SimHash over token hashes (term-frequency weighted, the
   * classic Charikar construction). Map-only typed kernel: no explode, no groupBy shuffle
   * — signature generation scales linearly with zero exchange at any corpus size.
   */
  def simhashes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    TableIO.fanOut(docs).select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, raw) =>
      val text = if (raw == null) "" else raw
      val votes = new Array[Int](64)
      val toks = text.split(' ')
      var i = 0
      while (i < toks.length) {
        val h = FastHash.hash64(toks(i))
        var j = 0
        while (j < 64) { votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1); j += 1 }
        i += 1
      }
      var sig = 0L
      var j = 0
      while (j < 64) { if (votes(j) > 0) sig |= 1L << j; j += 1 }
      (id, sig)
    }.toDF("doc_id", "simhash")
  }

  /**
   * SimHash signatures with an md5 token hash (60 bits: 15 hex chars, so the value and
   * every shift stay inside a signed 64-bit long). Same Charikar construction as
   * [[simhashes]], with two deviations for exact cross-engine parity: md5 replaces
   * FastHash (both engines can compute md5), and empty tokens / token-less docs are
   * dropped (matching the SQL twin's unnest semantics) — which makes the construction
   * oracle-checkable: the DuckDB twin rebuilds each of the 60 vote counters bit-by-bit
   * from the md5 hex (`dedup_simhash_md5`). The production kernel stays on FastHash
   * (one 8-byte hash vs hex-string md5 — measured ~6x cheaper); this variant exists to
   * PROVE the construction, pairs recall is spec'd in DedupSpec.
   */
  def simhashesMd5(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    TableIO.fanOut(docs).select(col("doc_id"), col("text")).as[(Long, String)].flatMap { case (id, raw) =>
      val text = if (raw == null) "" else raw
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](60)
      var nToks = 0
      text.split(' ').foreach { tok =>
        if (tok.nonEmpty) {
          nToks += 1
          val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
          var j = 0
          while (j < 60) { votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1); j += 1 }
        }
      }
      if (nToks == 0) None // token-less doc: the SQL twin's unnest emits no rows either
      else {
        var sig = 0L
        var j = 0
        while (j < 60) { if (votes(j) > 0) sig |= 1L << j; j += 1 }
        Some((id, sig))
      }
    }.toDF("doc_id", "simhash")
  }

  def dedupSimhashMd5(spark: SparkSession, dir: String): DataFrame =
    simhashesMd5(TableIO.documents(spark, dir)).orderBy(col("doc_id"))

  /** DuckDB twin of [[simhashesMd5]]: per (doc, bit) vote counters reconstructed from the
    * md5 hex — nibble p (1-based from the left of 15 chars) holds bits 4*(15-p)..4*(15-p)+3,
    * so bit j lives in char position 15 - j/4 at in-nibble offset j%4. */
  val dedupSimhashMd5Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, md5(tok) AS h
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE len(tok) > 0
      |), votes AS (
      |  SELECT doc_id, j,
      |    sum(CASE WHEN ((strpos('0123456789abcdef', substring(h, 15 - j // 4, 1)) - 1)
      |                   >> (j % 4)) & 1 = 1
      |             THEN 1 ELSE -1 END) AS vote
      |  FROM toks, range(60) r(j)
      |  GROUP BY doc_id, j
      |)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
      |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /**
   * SimHash near-dup pairs with hamming distance <= maxHamming, candidates from block
   * bands. The block structure DERIVES from maxHamming: B = maxHamming+1 blocks is the
   * minimum satisfying the pigeonhole guarantee (a pair differing in <= maxHamming bits
   * has at least one equal block), and the fewest blocks means the WIDEST blocks —
   * 64/B bits each, i.e. 2^(64/B) bucket values, the most candidate-pruning granularity
   * the guarantee permits. maxHamming=7 keeps the historical 8x8-bit layout; a caller
   * at maxHamming=3 gets 4 blocks of 16 bits (65536-value keys — occupancy 256x lower
   * at the same corpus size). This granularity CAP is intrinsic to exact pigeonhole
   * banding: candidates scale as O(B * n^2 / 2^(64/B)), so the exact form is sized for
   * per-shard corpora (~1M docs/shard at d=7; see SURVEY §4) — corpus-wide near-dup at
   * 100 TB routes through minhash-LSH / embedding-LSH, whose geometry adapts to n.
   * Hash-seeded — not SQL-expressible, so driver check is rows-only; DedupSpec asserts
   * recall against the exact-jaccard pairs.
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 7): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming in [0,64), got $maxHamming")
    // r14 measured-and-REJECTED: caching this signature frame was a warm-pair wash to
    // slight loss (ReuseExchange already shares the banded exchange between the two
    // renamed self-join sides; bench_dedup_cache_r14.json).
    val sh = simhashes(docs)
    val nBlocks = maxHamming + 1
    // widths sum to 64: the first (64 % B) blocks take the extra bit
    val base = 64 / nBlocks
    val widths = Seq.tabulate(nBlocks)(k => if (k < 64 % nBlocks) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val blocks = (0 until nBlocks).map { k =>
      val mask = if (widths(k) == 64) -1L else (1L << widths(k)) - 1L
      struct(lit(k).as("blk"),
        shiftright(col("simhash"), offsets(k)).bitwiseAND(lit(mask)).as("bv"))
    }
    val banded = sh.select(col("doc_id"), col("simhash"), explode(array(blocks: _*)).as("e"))
      .select(col("doc_id"), col("simhash"), col("e.blk").as("blk"), col("e.bv").as("bv"))
    val x = banded.select(col("doc_id").as("a_id"), col("simhash").as("ha"), col("blk"), col("bv"))
    val y = banded.select(col("doc_id").as("b_id"), col("simhash").as("hb"), col("blk"), col("bv"))
    x.join(y, Seq("blk", "bv"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= maxHamming) // cheap per-row filter BEFORE the pair distinct
      .select(col("a_id"), col("b_id"), col("hamming")).distinct()
  }

  def dedupSimhash(spark: SparkSession, dir: String, maxHamming: Int = 7): DataFrame =
    simhashPairs(TableIO.documents(spark, dir), maxHamming)
      .orderBy(col("a_id"), col("b_id"))

  // ---- embedding cosine near-dup -------------------------------------------------------

  /**
   * EXACT embedding near-dup pairs (cosine >= tau) via the native CosineSimilarity
   * expression over an O(n²) self-join. Registered as `dedup_embedding_exact`: it is the
   * correctness oracle for the LSH-bucketed form, NOT the operator a user should reach
   * for by default — at 100 TB the cross join is unrunnable, which is why the headline
   * `dedup_embedding` name maps to [[dedupEmbeddingLsh]].
   */
  def embeddingPairsExact(vecs: DataFrame, tau: Double = 0.45): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimilarity
    val a = vecs.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = vecs.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosineSimilarity(col("ea"), col("eb")))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos4"))
  }

  def dedupEmbeddingExact(spark: SparkSession, dir: String, tau: Double = 0.45): DataFrame =
    embeddingPairsExact(TableIO.embeddings(spark, dir), tau)
      .orderBy(col("a_id"), col("b_id"))

  def dedupEmbeddingSql(tau: Double): String =
    s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) AS cos4
       |FROM embeddings a, embeddings b
       |WHERE a.vec_id < b.vec_id
       |  AND list_cosine_similarity(a.embedding, b.embedding) >= $tau
       |ORDER BY a_id, b_id""".stripMargin

  /**
   * Embedding near-dup pairs via LSH bucketing — the DEFAULT `dedup_embedding`: pairs
   * are generated only inside shared random-hyperplane buckets (Similarity.lshBuckets),
   * so the shuffle is O(n·tables) and the pair space is per-bucket, never O(n²) — the
   * form that survives 100 TB. Approximate (recall < 1 when a true pair shares no
   * bucket) -> rows-only for the driver; DedupSpec asserts recall against
   * [[dedupEmbeddingExact]], which is the oracle-checked exhaustive twin.
   */
  def embeddingPairsLsh(vecs: DataFrame, tau: Double = 0.45): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimilarity
    // corpus-size-adaptive geometry: bounded bucket occupancy keeps the per-bucket
    // quadratic term constant as n grows (see Similarity.lshParams)
    // r14 measured-and-REJECTED: caching the bucket frame was a warm-pair wash
    // (ReuseExchange shares the bucket exchange between the renamed self-join sides;
    // bench_dedup_cache_r14.json).
    val buckets = Similarity.lshBuckets(vecs, vecs.count())
    val candidates = buckets.select(col("vec_id").as("a_id"), col("bucket"))
      .join(buckets.select(col("vec_id").as("b_id"), col("bucket")), Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val ea = vecs.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val eb = vecs.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    candidates.join(ea, "a_id").join(eb, "b_id")
      .withColumn("cos", cosineSimilarity(col("ea"), col("eb")))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos4"))
  }

  def dedupEmbeddingLsh(spark: SparkSession, dir: String, tau: Double = 0.45): DataFrame =
    embeddingPairsLsh(TableIO.embeddings(spark, dir), tau)
      .orderBy(col("a_id"), col("b_id"))

  // ---- connected components over near-dup pairs -----------------------------------------

  /** Pair count at or under which [[connectedComponents]] labels on the driver: 16 MB of
    * collected ids (the whole driver bound is in its doc). */
  private val DriverGateEdges = 1000000L

  private val IdTypes = Set[DataType](ByteType, ShortType, IntegerType, LongType)

  /**
   * Connected components of an undirected (a_id, b_id) pair graph. Returns (doc_id,
   * component) for every node that appears in a pair, each component labelled with its
   * minimum id, in the pairs' own integral id type (the wider of the two). Ids must be
   * integral: any other type is rejected. A pair with a null id relates no two documents
   * and is dropped before either form runs, so a node paired only with nulls is absent.
   *
   * The pairs are pinned once (one checkpoint, one job) and counted while the pin
   * computes them; the count picks the form:
   *  - At or under 1M edges: the edges are collected once as primitive longs and
   *    [[unionFindComponents]] labels them on the driver. The driver holds 32 B per edge
   *    (the collected ends and a sorted copy) and ~150 B per node while the result is
   *    built, 84 B per node of it kept in the result frame. A pair graph has at most two
   *    nodes per edge, so at the gate that is ≤ ~330 MB in the worst case (every pair
   *    disjoint), beside the graph operators' 2M-vertex broadcast gates. Two jobs (pin,
   *    collect) whatever the graph's diameter. The result is a local frame that pins
   *    nothing, so the pair checkpoint is freed before the call returns; `Pins.release`
   *    on it is harmless.
   *  - Past the gate: iterative min-label propagation over the pinned pairs. Every node
   *    starts labeled with itself; each round, a node adopts the minimum label among
   *    itself and its neighbors; stop when no label changes. Rounds = O(graph
   *    diameter), each one shuffle on the edge key; labels are checkpointed and the
   *    previous round released — the standard large-scale CC shape (what
   *    GraphX/GraphFrames do internally). The pin adds one job and one stored copy of
   *    the pairs ahead of the loop, and that copy stays, beside the cached symmetric edge
   *    list the loop builds from it, through every round. The pinned pairs, the edge list
   *    and every superseded checkpoint are freed before it returns; the result reads the
   *    last round's checkpoint, which is the caller's to `Pins.release`.
   *
   * The gate rests on bench_cc_gate.json. `gate_sizing`: on local[4] over random graphs
   * the driver form labelled 1M edges in 0.9–1.0 s, the min-label loop 100k edges in
   * 6–11 s. `past_gate`: at 100k edges the pin cost one more job (220 against 219) and
   * 8.4 MB more storage (19.1 against 10.7 MB), with no time difference beyond the
   * runs' spread. An ingest micro-batch's pair graph is a few dozen edges, so it takes
   * the driver form, where the min-label loop would run ~10 jobs of 32- and 64-task
   * stages over it (the corpus_pipeline A/B is in the same file).
   */
  def connectedComponents(pairs: DataFrame): DataFrame = Pins.scoped {
    val (edges, n) = pinEdges(pairs)
    val labels = if (n > DriverGateEdges) minLabelComponents(edges) else {
      val ends = edges.queryExecution.toRdd.mapPartitions { it =>
        val b = Array.newBuilder[Long]
        it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
        Iterator.single(b.result())
      }.collect().flatten
      val (ids, comps) = unionFindComponents(ends)
      val spark = pairs.sparkSession
      import spark.implicits._
      ids.zip(comps).toSeq.toDF("doc_id", "component")
    }
    val idType = Seq("a_id", "b_id").map(pairs.schema(_).dataType).maxBy(_.defaultSize)
    if (idType == LongType) labels
    else labels.select(col("doc_id").cast(idType).as("doc_id"),
      col("component").cast(idType).as("component"))
  }

  /** The (a_id, b_id) pairs pinned as longs, a pair with a null id dropped, and their
    * count, observed while the pin computes them (no job of its own). */
  private[graft] def pinEdges(pairs: DataFrame): (DataFrame, Long) = {
    val types = Seq("a_id", "b_id").map(c => pairs.schema.find(_.name == c).map(_.dataType))
    require(types.forall(_.exists(IdTypes)),
      s"pair frame needs integral columns (a_id, b_id); schema ${pairs.schema.simpleString}")
    val rows = new Observation()
    val edges = Pins.checkpoint(pairs
      .select(col("a_id").cast("long").as("a_id"), col("b_id").cast("long").as("b_id"))
      .filter(col("a_id").isNotNull && col("b_id").isNotNull)
      .observe(rows, count(lit(1)).as("n")))
    (edges, rows.get("n").asInstanceOf[Long])
  }

  /**
   * Union-find over `ends`, edges stored as consecutive (a, b) ids. Ids are remapped to
   * their rank among the sorted distinct ids, so the parent links are one int array and
   * union by minimum root labels each component with its minimum id. Path compression
   * keeps every find near-constant. Returns the sorted distinct ids and each one's
   * component label.
   */
  private def unionFindComponents(ends: Array[Long]): (Array[Long], Array[Long]) = {
    val sorted = ends.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    for (i <- sorted.indices if n == 0 || sorted(i) != sorted(n - 1)) {
      sorted(n) = sorted(i)
      n += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (parent(y) != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    for (e <- 0 until ends.length by 2) {
      val ra = find(java.util.Arrays.binarySearch(ids, ends(e)))
      val rb = find(java.util.Arrays.binarySearch(ids, ends(e + 1)))
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
    }
    (ids, Array.tabulate(n)(i => ids(find(i))))
  }

  /** The distributed form of [[connectedComponents]], over its [[pinEdges]]. */
  private[graft] def minLabelComponents(pairs: DataFrame): DataFrame = {
    // symmetric edge list, pre-partitioned on the probe key and cached: the per-round
    // join then reuses ONE materialized partitioning instead of re-shuffling the (larger)
    // edge set every iteration. No distinct: min-label propagation is insensitive to edge
    // multiplicity, so deduplicating here would buy nothing for a full extra shuffle+agg.
    val edges = Pins.cache(pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionByName(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      .repartition(col("u")))
    // A checkpoint truncates the logical plan to the materialized RDD each round —
    // without it the plan (and Catalyst re-analysis cost) grows with every iteration,
    // the classic iterative-algorithm trap on Spark. Previous rounds' checkpoints are
    // released once the next one is materialized so storage stays O(1) in iterations.
    // Checkpoints also carry their outputPartitioning, which is what keeps the loop at
    // ONE shuffle per round: labels arrive partitioned on doc_id, the rename to u is
    // alias-aware (ProjectExec preserves partitioning through aliases), so the edge join
    // needs no exchange, and the convergence join runs on two doc_id-partitioned sides.
    // initialize each node at min(self, direct neighbors) — the first propagation round
    // fused into the init aggregate (shuffle-free: edges are already partitioned on u).
    // A star-shaped cluster whose center is the minimum id — the typical near-dup shape —
    // is already converged here, so the loop body runs exactly once to verify.
    var labels = Pins.checkpoint(edges.groupBy(col("u").as("doc_id"))
      .agg(least(col("u"), min(col("v"))).as("component")))
    var changed = 1L
    while (changed > 0) {
      // one-hop min-label propagation as union + min-aggregate; the groupBy is the only
      // exchange in the round (labels ∪ messages, keyed by node)
      val msgs = edges
        .join(labels.withColumnRenamed("doc_id", "u"), Seq("u"))
        .select(col("v").as("doc_id"), col("component"))
      val stepped = labels.unionByName(msgs)
        .groupBy(col("doc_id"))
        .agg(min(col("component")).as("component"))
      // carry the previous label so the convergence check is one cheap action
      val next = Pins.checkpoint(stepped
        .join(labels.withColumnRenamed("component", "old"), Seq("doc_id")))
      changed = next.filter(col("component") =!= col("old")).count()
      Pins.release(labels) // its successor is materialized
      labels = next.select(col("doc_id"), col("component"))
    }
    labels
  }

  /**
   * `dedup_components`: component id for every doc in a verified near-dup pair (jaccard >=
   * threshold), vs a DuckDB recursive-CTE transitive-closure oracle.
   */
  def dedupComponents(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    Pins.scoped(connectedComponents(
      dedupMinhash(spark, dir, threshold).select(col("a_id"), col("b_id")))
      .orderBy(col("doc_id")))

  /**
   * `dedup_cluster_stats`: the duplication-structure diagnostic read before choosing a
   * dedup policy — the distribution of near-dup cluster sizes (how much of the corpus
   * sits in pairs vs. large boilerplate families). Rides the same verified-pair CC as
   * `dedup_components`; the histogram is two aggregations over the COMPONENT frame
   * (already ≤ one row per clustered doc, never the corpus).
   */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = Pins.scoped(
    connectedComponents(
      dedupMinhash(spark, dir, 0.8).select(col("a_id"), col("b_id")))
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size")))

  def dedupClusterStatsSql(threshold: Double): String = {
    val base = dedupComponentsSql(threshold)
    base.replace("SELECT doc_id, component FROM comp ORDER BY doc_id",
      """, sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  def dedupComponentsSql(threshold: Double): String =
    s"""WITH RECURSIVE $GramsCteSql,
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM grams a, grams b
       |  WHERE ${jaccardPredSql(threshold)}),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (
       |  SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u)
       |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin

  // ---- end-user corpus dedup -----------------------------------------------------------

  /**
   * The user-facing operation the pair queries build toward: the deduplicated corpus.
   * Policy: (1) exact duplicates keep the minimum doc_id; (2) near-dup CLUSTERS (connected
   * components of the verified pair graph) keep exactly one representative — the minimum
   * doc_id, which is precisely the component label [[connectedComponents]] propagates, so
   * "keep" is `doc_id == component` with no extra aggregation. This is the same policy
   * `dedup_components` exposes, applied end-to-end (round 1 used a greedy b-side drop
   * here, inconsistent with the component clustering one query earlier).
   * The verified pair frame is built once and the CC runs on it directly; grams are
   * cached inside [[dedupMinhash]] so signature + verify share one computation.
   * Returns kept docs, summarized per source for a stable driver check.
   */
  /** Deduplicated corpus for ANY (doc_id, text, ...) frame: returns the KEPT rows with
    * all their original columns — the frame a pipeline feeds to the next stage.
    * Null text carries NO content signal, so null-text rows pass through UNTOUCHED
    * (md5(null) is null, and a naive partition-by-hash would silently collapse every
    * null-text row into one "exact-duplicate" group). */
  def dedupedCorpus(docs: DataFrame, threshold: Double = 0.8): DataFrame = Pins.scoped {
    val exactKeep = docs
      .withColumn("h", when(col("text").isNull,
        concat(lit("null:"), col("doc_id").cast("string"))).otherwise(md5(col("text"))))
      .withColumn("keeper", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("keeper"))
      .drop("h", "keeper")
    val pairs = minhashPairs(docs, threshold).select(col("a_id"), col("b_id"))
    val nearDrop = connectedComponents(pairs)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id"))
    exactKeep.join(nearDrop, Seq("doc_id"), "left_anti")
  }

  /**
   * Quality-aware corpus dedup: keep the row with the HIGHEST `priorityCol` in each
   * exact/near-dup cluster (ties to the smallest doc_id) — the curation policy that
   * retains the best copy (longest version, highest LM/quality score, preferred
   * source) instead of [[dedupedCorpus]]'s arbitrary min-id representative.
   *
   * Same machinery, different elector: exact-duplicate pairs (md5 groups) union the
   * verified near-dup pairs feed one connected-components pass; the per-cluster argmax
   * rides the native TopKPerKey bounded heaps (k=1), so the election exchange carries
   * one row per cluster per partition — never the corpus. Rows in no cluster are their
   * own cluster (left join + coalesce, no fan-out).
   */
  def dedupedCorpusBy(docs: DataFrame, priorityCol: String,
      threshold: Double = 0.8): DataFrame = Pins.scoped {
    import org.apache.spark.sql.graft.TopKPerKey
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val exactPairs = docs
      .withColumn("h", when(col("text").isNull,
        concat(lit("null:"), col("doc_id").cast("string"))).otherwise(md5(col("text"))))
      .withColumn("m", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("m"))
      .select(col("m").as("a_id"), col("doc_id").as("b_id"))
    val pairs = minhashPairs(docs, threshold).select(col("a_id"), col("b_id"))
      .unionByName(exactPairs)
    val comp = connectedComponents(pairs)
    val clustered = docs.join(comp, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
    val keepers = TopKPerKey(
        clustered.select(col("cluster"), col("doc_id"),
          col(priorityCol).cast("double").as("__p")),
        Seq("cluster"), Seq(("__p", true), ("doc_id", false)), 1)
      .select(col("doc_id"))
    docs.join(keepers, Seq("doc_id"), "left_semi")
  }

  def dedupCorpus(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    dedupedCorpus(TableIO.documents(spark, dir), threshold)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      .orderBy(col("source"))

  def dedupCorpusSql(threshold: Double): String =
    s"""WITH RECURSIVE $GramsCteSql,
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM grams a, grams b
       |  WHERE ${jaccardPredSql(threshold)}),
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |near_drop AS (
       |  SELECT u AS doc_id FROM reach GROUP BY u
       |  HAVING least(u, min(v)) != u),
       |exact_keep AS (
       |  SELECT * FROM (
       |    SELECT doc_id, source,
       |      min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |    FROM documents) WHERE doc_id = keeper)
       |SELECT source, count(*) AS n_kept
       |FROM exact_keep
       |WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
       |GROUP BY source ORDER BY source""".stripMargin

  /** First 48 bits of md5(s) as a Long — the ONE gram-hash convention every DuckDB twin
    * reconstructs via `CAST('0x' || substr(md5(g), 1, 12) AS BIGINT)`; shared by the
    * winnow and duplicate-span kernels so the bit layout can never drift between them. */
  private[graft] def md5Hash48(s: String, md: java.security.MessageDigest): Long = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.reset()
    var h = 0L
    var b = 0
    while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    h
  }

  // ---- winnowing fingerprints ----------------------------------------------------------

  /**
   * Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03 — the MOSS algorithm):
   * slide a w-window over each document's token-3-gram hash sequence and keep the
   * RIGHTMOST MINIMAL hash of every window. Guarantees the paper proves: any shared token
   * run of length >= w + 2 between two documents yields a shared (pos-independent)
   * fingerprint (coverage), and expected density is 2/(w+1) — the standard local
   * fingerprint for overlap/plagiarism detection, denser-than-minhash but position-aware.
   *
   * Scale shape: everything is per-document inside one typed kernel — ZERO shuffle, the
   * selection never leaves the scan stage. Hashes are the first 48 bits of md5(gram) so
   * DuckDB reconstructs the identical selection (`dedup_winnow` hash-matches); a
   * FastHash-based variant would be faster per gram but unverifiable by the oracle.
   * Docs with fewer than w+2 tokens winnow their single partial window (min over all
   * grams), so every doc with >= 3 tokens gets >= 1 fingerprint.
   */
  def winnowFingerprints(docs: DataFrame, w: Int = 4): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val spark = docs.sparkSession
    import spark.implicits._
    TableIO.fanOut(docs).select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, raw) =>
        val text = if (raw == null) "" else raw
        val toks = text.split(" ", -1) // keep trailing empties, like SQL string_split
        val n = toks.length - 2
        if (n <= 0) Iterator.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val hs = new Array[Long](n)
          var i = 0
          while (i < n) {
            hs(i) = md5Hash48(toks(i) + " " + toks(i + 1) + " " + toks(i + 2), md)
            i += 1
          }
          // trailing window ending at e; scanning e-to-start with STRICT < keeps the
          // rightmost minimal on ties (the paper's tie rule)
          val sel = scala.collection.mutable.LinkedHashSet.empty[(Int, Long)]
          var e = math.min(w - 1, n - 1)
          while (e < n) {
            var best = e
            var j = e - 1
            val start = math.max(0, e - w + 1)
            while (j >= start) { if (hs(j) < hs(best)) best = j; j -= 1 }
            sel += ((best + 1, hs(best))) // 1-based gram position
            e += 1
          }
          sel.iterator.map { case (p, h) => (id, p, h) }
        }
      }.toDF("doc_id", "pos", "h")
  }

  /** `dedup_winnow`: winnowing fingerprint set (w=4) of every document. */
  def dedupWinnow(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprints(TableIO.documents(spark, dir))
      .orderBy(col("doc_id"), col("pos"))

  /** DuckDB twin of [[winnowFingerprints]]: same 48-bit md5 gram hashes, same
    * rightmost-min-per-window selection via min over a (h, -pos) struct. */
  val dedupWinnowSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |ge AS (SELECT doc_id, len(tk) - 2 AS n,
      |         unnest([{'pos': i,
      |                  'h': CAST('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 12) AS BIGINT)}
      |                 for i in range(1, len(tk) - 1)]) AS ge
      |       FROM t),
      |g AS (SELECT doc_id, ge.pos AS pos, ge.h AS h, n FROM ge),
      |w AS (SELECT doc_id, pos, h, n,
      |        min({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id ORDER BY pos
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
      |      FROM g),
      |sel AS (SELECT DISTINCT doc_id, -(m.np) AS pos, m.h AS h
      |        FROM w WHERE pos >= 4 OR pos = n)
      |SELECT doc_id, CAST(pos AS INT) AS pos, h FROM sel ORDER BY doc_id, pos""".stripMargin

  // ---- benchmark decontamination -------------------------------------------------------

  /**
   * Train-set contamination scan — the decontamination audit every LLM training pipeline
   * runs before a release: for each candidate document, the fraction of its distinct
   * 3-gram shingles that appear ANYWHERE in a benchmark corpus (n-gram containment; the
   * GPT-3 appendix-C / C4-audit shape). Scale shape: grams ride as 64-bit hashes (same
   * typed kernel as the dedup lane), the benchmark side collapses to a DISTINCT gram
   * vocabulary before the join — fan-out is bounded by benchmark vocabulary, never
   * candidate x benchmark docs — and a candidate with zero overlap still reports
   * containment 0 through the left join.
   */
  def contamination(candidates: DataFrame, benchmark: DataFrame): DataFrame = {
    val bg = gramHashSets(benchmark).select(explode(col("gh")).as("h")).distinct()
      .withColumn("hit", lit(1))
    val dg = gramHashSets(candidates)
      .select(col("doc_id"), col("sz"), explode(col("gh")).as("h"))
    val scored = dg.join(bg, Seq("h"), "left")
      .groupBy(col("doc_id"), col("sz"))
      .agg(count(col("hit")).as("n_hit"))
    // EVERY candidate appears in the audit, including docs too short to shingle
    // (n_grams 0, containment 0): in a decontamination report, absent must never be
    // mistakable for clean — a consumer joining back to gate a release sees every doc.
    candidates.select(col("doc_id")).distinct()
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("sz"), lit(0)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(round(col("n_hit") / col("sz"), 4), lit(0.0)).as("containment"))
  }

  /** `dedup_contamination`: every non-src1 doc scored against the src1 "benchmark". */
  def dedupContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = TableIO.documents(spark, dir)
    contamination(docs.filter(col("source") =!= "src1"), docs.filter(col("source") === "src1"))
      .orderBy(col("doc_id"))
  }

  val dedupContaminationSql: String =
    s"""WITH $GramsCteSql,
       |bench AS (SELECT DISTINCT unnest(g.g) AS h
       |          FROM grams g JOIN documents d USING (doc_id) WHERE d.source = 'src1'),
       |cand AS (SELECT g.doc_id, unnest(g.g) AS h, len(g.g) AS sz
       |         FROM grams g JOIN documents d USING (doc_id) WHERE d.source <> 'src1'),
       |scored AS (
       |  SELECT c.doc_id, CAST(c.sz AS INT) AS n_grams,
       |    CAST(count(b.h) AS BIGINT) AS n_hit,
       |    round(count(b.h) * 1.0 / c.sz, 4) AS containment
       |  FROM cand c LEFT JOIN bench b USING (h)
       |  GROUP BY c.doc_id, c.sz)
       |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
       |  coalesce(n_hit, 0) AS n_hit, coalesce(containment, 0.0) AS containment
       |FROM (SELECT DISTINCT doc_id FROM documents WHERE source <> 'src1') d
       |LEFT JOIN scored s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /**
   * Bloom-prefiltered contamination scan — identical OUTPUT to [[contamination]], built
   * for the 100 TB asymmetry where candidates are the corpus and the benchmark is tiny:
   * a Bloom filter over the benchmark gram vocabulary (built with Spark's distributed
   * `stat.bloomFilter` aggregate — executors build partials, the driver holds only the
   * fixed-size bitset) is broadcast and applied MAP-SIDE to the candidate gram stream,
   * so only grams that might hit the benchmark (true hits + ~fpp false positives) ever
   * reach the shuffle of the verification join. The exact inner join afterwards kills
   * the false positives, so no-false-negatives makes the result equal to the exact scan
   * gram-for-gram — same oracle SQL. At a 1% fpp the verification shuffle shrinks by
   * ~99% of the non-matching gram volume.
   */
  def contaminationBloom(candidates: DataFrame, benchmark: DataFrame,
      fpp: Double = 0.01): DataFrame = Pins.scoped {
    val spark = candidates.sparkSession
    // reused: sizing count, bloom build, verification join (the result reads it)
    val bg = Pins.cache(gramHashSets(benchmark).select(explode(col("gh")).as("h")).distinct())
    val nb = bg.count()
    val bloom = bg.stat.bloomFilter("h", math.max(nb, 64L), fpp)
    val bcBloom = spark.sparkContext.broadcast(bloom)
    val dg = gramHashSets(candidates)
    val sizes = dg.select(col("doc_id"), col("sz"))
    val pruned = dg.select(col("doc_id"), explode(col("gh")).as("h"))
      .filter(r => bcBloom.value.mightContainLong(r.getLong(1)))
    val hits = pruned.join(bg, Seq("h")) // exact verify: false positives drop here
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    candidates.select(col("doc_id")).distinct()
      .join(sizes, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("sz"), lit(0)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(round(col("n_hit") / col("sz"), 4), lit(0.0)).as("containment"))
  }

  /**
   * `dedup_contamination_bloom`: the bloom-gated audit against the src2 "benchmark" —
   * must equal the exact n-gram containment scan (the oracle is the exact SQL).
   */
  def dedupContaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = TableIO.documents(spark, dir)
    contaminationBloom(docs.filter(col("source") =!= "src2"), docs.filter(col("source") === "src2"))
      .orderBy(col("doc_id"))
  }

  val dedupContaminationBloomSql: String =
    s"""WITH $GramsCteSql,
       |bench AS (SELECT DISTINCT unnest(g.g) AS h
       |          FROM grams g JOIN documents d USING (doc_id) WHERE d.source = 'src2'),
       |sizes AS (SELECT g.doc_id, CAST(len(g.g) AS INT) AS sz
       |          FROM grams g JOIN documents d USING (doc_id) WHERE d.source <> 'src2'),
       |cand AS (SELECT g.doc_id, unnest(g.g) AS h
       |         FROM grams g JOIN documents d USING (doc_id) WHERE d.source <> 'src2'),
       |hits AS (
       |  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM cand c JOIN bench b USING (h)
       |  GROUP BY c.doc_id)
       |SELECT d.doc_id, coalesce(z.sz, 0) AS n_grams,
       |  coalesce(s.n_hit, 0) AS n_hit,
       |  coalesce(round(s.n_hit * 1.0 / z.sz, 4), 0.0) AS containment
       |FROM (SELECT DISTINCT doc_id FROM documents WHERE source <> 'src2') d
       |LEFT JOIN sizes z ON d.doc_id = z.doc_id
       |LEFT JOIN hits s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- segment-level exact dedup (C4 / RefinedWeb line-dedup analog) -------------------

  /**
   * Split each document into consecutive non-overlapping k-token segments:
   * (doc_id, pos, seg) with 1-based positions. The final segment may be shorter than k.
   * Typed kernel fused with the scan — zero shuffle; null-text docs produce no segments
   * (SQL-null semantics, mirrored by the oracle's WHERE text IS NOT NULL).
   */
  def segmentedDocs(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1, s"segment length must be >= 1, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    TableIO.fanOut(docs).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1) // keep trailing empties, like SQL string_split
        val n = (toks.length + k - 1) / k
        (0 until n).iterator.map { i =>
          val from = i * k
          (id, i + 1, toks.slice(from, math.min(from + k, toks.length)).mkString(" "))
        }
      }.toDF("doc_id", "pos", "seg")
  }

  /**
   * Segment-level exact dedup — the C4 / RefinedWeb "drop duplicated lines across the
   * corpus" pass, adapted to a corpus without newlines: every distinct k-token segment
   * survives only at its FIRST corpus-wide occurrence (min (doc_id, pos)); each document
   * is reassembled from its surviving segments in original order. Catches boilerplate
   * repeated across documents that document-level dedup can never see, and intra-doc
   * repetition as a side effect.
   *
   * Scale shape: the dedup DECISION shuffles only (md5, doc_id, pos) rows (~28 B each,
   * map-side-combined min) — never segment text; the text-carrying side shuffles once
   * keyed by (doc_id, pos) to meet the winner set and once by doc_id for reassembly,
   * both skew-free keys. No O(n²) anywhere; fan-in per hash is the corpus duplication
   * factor, exactly the quantity being removed.
   *
   * Returns (doc_id, n_segs, n_kept, dedup_text) for EVERY input doc — a fully-duplicate
   * doc reports n_kept 0 / null text rather than vanishing, so a consumer filtering the
   * corpus sees the drop decision explicitly.
   */
  def segmentDedup(docs: DataFrame, k: Int = 8): DataFrame =
    reassembleSegments(docs, segmentedDocs(docs, k).withColumn("h", md5(col("seg"))), k)

  /**
   * First-occurrence winner selection + reassembly over a hashed segment frame
   * (doc_id, pos, seg, h) — the one implementation of segment-dedup semantics, shared by
   * the batch path ([[segmentDedup]], md5-hashed for the DuckDB oracle) and the
   * streaming gate (CorpusStreaming.admitSegmentsBatch, xxhash64 against its index).
   * Every `docs` row stays visible (n_segs from its text; fully-dropped docs report
   * n_kept 0 / null text).
   *
   * `n_segs` and `n_kept` are ints by bound, not by accident: they count ONE document's
   * segments. Its text plus the row's other fields must fit one UnsafeRow, whose size
   * is an int, so the text is under 2^31 - 1 bytes and splits into at most one token
   * more than its byte count: no document reaches 2^31 tokens, hence segments, whatever
   * the corpus size.
   */
  private[graft] def reassembleSegments(docs: DataFrame, segs: DataFrame, k: Int): DataFrame = {
    val winners = segs.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"))
    val rebuilt = segs.join(winners, Seq("doc_id", "pos"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).cast("int").as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
            s => s.getField("seg")), " ").as("dedup_text"))
    docs.select(col("doc_id"),
        when(col("text").isNull, lit(0))
          .otherwise(ceil(size(split(col("text"), " ", -1)) / lit(k.toDouble)))
          .cast("int").as("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"), col("dedup_text"))
  }

  /** `dedup_segments`: 8-token segment-level dedup + reassembly of every document. */
  def dedupSegments(spark: SparkSession, dir: String): DataFrame =
    segmentDedup(TableIO.documents(spark, dir)).orderBy(col("doc_id"))

  /** DuckDB twin of [[segmentDedup]] (k=8): same segmentation, same (doc_id, pos)
    * first-occurrence winners (DuckDB groups raw segment text; Spark groups md5(seg) —
    * identical winners absent a 128-bit collision), same space-joined reassembly. */
  val dedupSegmentsSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE text IS NOT NULL),
      |se AS (SELECT doc_id,
      |         unnest([{'pos': i, 'seg': array_to_string(tk[(i-1)*8+1:i*8], ' ')}
      |                 for i in range(1, CAST(ceil(len(tk) / 8.0) AS INT) + 1)]) AS s
      |       FROM t),
      |s AS (SELECT doc_id, s.pos AS pos, s.seg AS seg FROM se),
      |win AS (SELECT seg, min({'d': doc_id, 'p': pos}) AS w FROM s GROUP BY seg),
      |kept AS (SELECT s.doc_id, s.pos, s.seg
      |         FROM s JOIN win ON s.seg = win.seg
      |         WHERE s.doc_id = win.w.d AND s.pos = win.w.p),
      |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
      |          string_agg(seg, ' ' ORDER BY pos) AS dedup_text
      |        FROM kept GROUP BY doc_id),
      |base AS (SELECT doc_id, CASE WHEN text IS NULL THEN 0
      |           ELSE CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) END AS n_segs
      |         FROM documents)
      |SELECT b.doc_id, b.n_segs, coalesce(a.n_kept, 0) AS n_kept, a.dedup_text
      |FROM base b LEFT JOIN agg a USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  // ---- exact duplicate-span detection (Lee et al. substring dedup) ---------------------

  /**
   * Exact duplicate-span detection — the operator behind Lee et al., "Deduplicating
   * Training Data Makes Language Models Better" (ACL'22): find every maximal token span
   * that appears (verbatim) more than once anywhere in the corpus, including within one
   * document. Lee et al. build a corpus suffix array; graft gets the same spans
   * distributed: every L-token gram is hashed with position, grams whose hash occurs
   * >= 2 times corpus-wide are hits, and per-doc gaps-and-islands merging (hits whose
   * windows overlap or touch, i.e. gap <= L) reconstructs the maximal spans a suffix
   * array would report at granularity L.
   *
   * Scale shape: gram hashing is a per-doc typed kernel fused with the scan; the
   * duplicate-hash filter is one map-side-combined count shuffling (48-bit hash) rows;
   * the island merge windows partition by doc_id — a per-doc local sort, never global.
   * Hashes are the first 48 bits of md5(gram) so the DuckDB twin reconstructs the
   * identical hit set.
   */
  def duplicateSpanGrams(docs: DataFrame, spanLen: Int = 15): DataFrame = {
    require(spanLen >= 2, s"span length must be >= 2, got $spanLen")
    val spark = docs.sparkSession
    import spark.implicits._
    TableIO.fanOut(docs).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1) // keep trailing empties, like SQL string_split
        val n = toks.length - spanLen + 1
        if (n <= 0) Iterator.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          (0 until n).iterator.map { i =>
            (id, i + 1, md5Hash48(toks.slice(i, i + spanLen).mkString(" "), md)) // 1-based
          }
        }
      }.toDF("doc_id", "pos", "h")
  }

  /** Maximal duplicated spans per doc: (doc_id, span_start, span_end, n_grams) with
    * 1-based inclusive token bounds. See [[duplicateSpanGrams]] for the hit definition.
    * The three are ints by bound: they are token positions and gram counts within ONE
    * document, which has fewer than 2^31 tokens whatever the corpus size (see
    * [[reassembleSegments]]). */
  def duplicateSpans(docs: DataFrame, spanLen: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = duplicateSpanGrams(docs, spanLen)
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val hits = grams.join(dup, Seq("h")).select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cum = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > spanLen, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(cum))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) + lit(spanLen - 1)).cast("int").as("span_end"),
        count(lit(1)).cast("int").as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** `dedup_spans`: maximal 15-token duplicated spans across the corpus. */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    duplicateSpans(TableIO.documents(spark, dir))
      .orderBy(col("doc_id"), col("span_start"))

  /** DuckDB twin of [[duplicateSpans]] (L=15): same 48-bit md5 gram hashes, same
    * >= 2 occurrence rule, same gap > L island break. */
  val dedupSpansSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE text IS NOT NULL),
      |ge AS (SELECT doc_id,
      |         unnest([{'pos': i,
      |                  'h': CAST('0x' || substr(md5(array_to_string(tk[i:i+14], ' ')), 1, 12) AS BIGINT)}
      |                 for i in range(1, len(tk) - 13)]) AS g
      |       FROM t WHERE len(tk) >= 15),
      |g AS (SELECT doc_id, g.pos AS pos, g.h AS h FROM ge),
      |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
      |hits AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
      |brk AS (SELECT doc_id, pos,
      |          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 15
      |               THEN 1 ELSE 0 END AS b
      |        FROM hits),
      |isl AS (SELECT doc_id, pos,
      |          sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
      |        FROM brk)
      |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
      |  CAST(max(pos) + 14 AS INT) AS span_end, CAST(count(*) AS INT) AS n_grams
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  /**
   * Cut token ranges out of documents — the removal half of substring dedup: feed it the
   * spans you decided to drop (e.g. [[duplicateSpans]] filtered to non-first occurrences
   * under your keep policy) and every listed [span_start, span_end] 1-based inclusive
   * token range is deleted; surviving tokens rejoin with single spaces. Overlapping spans
   * merge naturally (token-mask union). Docs with no spans pass through untouched; a doc
   * cut to nothing keeps an empty string rather than vanishing. One (doc_id)-keyed join —
   * text shuffles once; the cut itself is a per-doc kernel.
   */
  def cutSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sp = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("_1"), col("span_end").as("_2"))).as("sp"))
    docs.join(sp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), col("sp"))
      .as[(Long, String, Seq[(Int, Int)])]
      .map { case (id, text, ranges) =>
        if (text == null || ranges == null || ranges.isEmpty) (id, text)
        else {
          val toks = text.split(" ", -1)
          val drop = new Array[Boolean](toks.length)
          ranges.foreach { case (s, e) =>
            var i = math.max(0, s - 1)
            val end = math.min(toks.length, e)
            while (i < end) { drop(i) = true; i += 1 }
          }
          val keep = new scala.collection.mutable.ArrayBuffer[String](toks.length)
          var i = 0
          while (i < toks.length) { if (!drop(i)) keep += toks(i); i += 1 }
          (id, keep.mkString(" "))
        }
      }.toDF("doc_id", "text")
  }

  // ---- registry ------------------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (dedupExact(_, _)),
    "dedup_minhash" -> (dedupMinhash(_, _)),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard(_, _)),
    "dedup_simhash" -> (dedupSimhash(_, _)),
    "dedup_simhash_md5" -> (dedupSimhashMd5(_, _)),
    "dedup_embedding" -> (dedupEmbeddingLsh(_, _)),
    "dedup_embedding_exact" -> (dedupEmbeddingExact(_, _)),
    "dedup_corpus" -> (dedupCorpus(_, _)),
    "dedup_components" -> (dedupComponents(_, _)),
    "dedup_cluster_stats" -> (dedupClusterStats(_, _)),
    "dedup_contamination" -> (dedupContamination(_, _)),
    "dedup_contamination_bloom" -> (dedupContaminationBloom(_, _)),
    "dedup_winnow" -> (dedupWinnow(_, _)),
    "dedup_segments" -> (dedupSegments(_, _)),
    "dedup_spans" -> (dedupSpans(_, _)))

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_minhash" -> jaccardPairsSql(0.8),
    "dedup_ngram_jaccard" -> jaccardPairsSql(0.5),
    // dedup_simhash intentionally omitted: hash-seeded, spec-verified (rows-only here);
    // its CONSTRUCTION is oracle-proven by the md5-hash twin below
    "dedup_simhash_md5" -> dedupSimhashMd5Sql,
    // dedup_embedding (LSH) intentionally omitted: approximate by design, recall-spec'd
    "dedup_embedding_exact" -> dedupEmbeddingSql(0.45),
    "dedup_corpus" -> dedupCorpusSql(0.8),
    "dedup_components" -> dedupComponentsSql(0.8),
    "dedup_cluster_stats" -> dedupClusterStatsSql(0.8),
    "dedup_contamination" -> dedupContaminationSql,
    "dedup_contamination_bloom" -> dedupContaminationBloomSql,
    "dedup_winnow" -> dedupWinnowSql,
    "dedup_segments" -> dedupSegmentsSql,
    "dedup_spans" -> dedupSpansSql)
}
