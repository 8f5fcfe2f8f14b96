package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale training-data pipelines: exact
 * (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard.
 *
 * All hashing is md5-based so results are engine-independent (the same
 * pipeline expressed in any SQL engine with md5() yields identical buckets
 * and signatures — the DuckDB oracles in [[graft.ops.PipelineQueries]] rely
 * on this). MinHash uses the *lexicographic* min of salted md5 hex digests,
 * avoiding any hex→int conversion that differs across engines.
 *
 * Scale notes: every stage is shuffle-by-key (doc id or bucket) with
 * map-side partial aggregation; nothing is collected to the driver. The LSH
 * candidate join keys on (band, bucket) — at 100 TB the bucket distribution
 * is the skew risk, so `lshCandidates` caps per-bucket size via a count
 * filter (a bucket holding half the corpus is a degenerate hash, not signal).
 */
object Dedup {

  /** Exact dedup: one row per distinct `textCol` value, keeping the smallest
    * id as canonical plus the duplicate count. A plain hash aggregation —
    * Spark's partial/final agg makes this a single shuffle of (hash, id). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Distinct character n-gram shingles per document: (id, sh). Generated
    * with the native codegen'd [[graft.functions.CharShingles]] expression
    * — one O(len) pass per document, bit-identical to the
    * `array_distinct(transform(sequence(...), i -> substring(...)))` form
    * it replaced (r19: the interpreted HOF lambda re-walked the string per
    * element, O(len²); GramFunctionsSpec pins equality incl. the
    * whole-short-string fallback). */
  def charShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    graft.functions.GramFunctions.register(docs.sparkSession)
    docs.select(
      col(idCol).as("id"),
      explode(call_function("char_shingles", col(textCol), lit(n))).as("sh"))
  }

  /** MinHash signature with k hash functions: column h0..h{k-1}, where
    * h_i = min over shingles of an 8-hex-char (32-bit) slice of a salted
    * md5 (lexicographic). One md5 yields four independent 32-bit hashes, so
    * only ceil(k/4) digests are computed per shingle — md5 dominates the
    * signature cost at corpus scale.
    *
    * `fastHash` switches the hash family to codegen'd `xxhash64(salt, sh)`
    * (LongType mins): the same algorithm with a different random family,
    * measured 9-30× cheaper per shingle and steadier under ambient load,
    * with FEWER false-positive candidates (64-bit values vs md5's 32-bit
    * slices — BENCH.md §DedupScale) — the configuration a 100 TB deployment
    * should run. It is NOT cross-engine-stable — DuckDB cannot reproduce
    * Spark's xxhash64 — so every oracle-gated battery row keeps the md5
    * family; exact duplicates have identical signatures under EITHER family
    * (same shingle set), pinned by OperatorsSpec. */
  def minHashSignature(shingles: DataFrame, k: Int, fastHash: Boolean = false): DataFrame = {
    if (fastHash) {
      val aggs = (0 until k).map(i => min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
      return shingles.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    }
    // Native minhash_slices (r19): the k salted slices in one codegen'd
    // call — ceil(k/4) digests per shingle with no intermediate 32-char
    // hex strings or per-slice concat/substring chains. Values
    // bit-identical to the md5(concat)/substring form (GramFunctionsSpec
    // pins it), so the cross-engine oracles are untouched.
    graft.functions.GramFunctions.register(shingles.sparkSession)
    val withSlices = shingles.withColumn("__sl",
      call_function("minhash_slices", col("sh"), lit(k)))
    val aggs = (0 until k).map { i =>
      min(element_at(col("__sl"), i + 1)).as(s"h$i")
    }
    withSlices.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: signature → (id, band, bucket) with bands of `rowsPerBand`
    * hashes; bucket = md5 of the concatenated band slice (`fastHash`:
    * xxhash64 over the slice — pair with minHashSignature's fast mode).
    *
    * SIZE THE BANDS WITH [[suggestBanding]] (measured, BENCH.md
    * §PipelineScale): narrow bands that are fine at thousands of docs
    * glue unrelated documents at millions through ordinary BACKGROUND
    * shingle similarity — the per-doc false-candidate count grows with
    * the corpus (10M docs, 4-row bands: keep rate collapsed 80%→59%
    * with or without boilerplate stripping; 8-row bands — what the
    * advisor returns at that size — restored it and cut the stage
    * shuffle 6×). Boilerplate is a DIFFERENT failure mode with a
    * different fix: shared chrome mostly hurts RECALL (copies differing
    * only in chrome sink below the target J — [[stripBoilerplate]]
    * first), while its glue direction is largely absorbed by
    * [[lshCandidates]]' degenerate-bucket cap. */
  def lshBuckets(signature: DataFrame, k: Int, rowsPerBand: Int,
                 fastHash: Boolean = false): DataFrame = {
    require(k % rowsPerBand == 0, "k must divide into equal bands")
    val bands = (0 until k / rowsPerBand).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      val bucket = if (fastHash) xxhash64(slice: _*).cast("string")
                   else md5(concat(slice: _*))
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    signature.select(col("id"), explode(array(bands: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
  }

  /** Banding advisor: compute (k, rowsPerBand) for [[minHashSignature]] +
    * [[lshBuckets]] from the corpus size and the target Jaccard, via the
    * standard LSH S-curve P(candidate | J) = 1 − (1 − J^r)^b (Leskovec/
    * Rajaraman/Ullman, "Mining of Massive Datasets" §3.4). Two forces:
    *
    *  - FALSE POSITIVES grow with the corpus: a pair at background
    *    similarity J_bg collides in one band with probability J_bg^r, and
    *    the number of moderately-similar pairs a document meets grows
    *    with n — so r must grow by one for every ln(1/J_bg) factor of
    *    corpus growth to hold per-doc false candidates flat:
    *    r = baseRows + floor(ln(n / baseCorpus) / ln(1 / J_bg)).
    *  - RECALL at the target J then fixes the band count: the smallest b
    *    with 1 − (1 − J_t^r)^b >= recallFloor.
    *
    * Calibration against measured keep-rate points (BENCH.md
    * §PipelineScale, planted near-dups at J ≈ 0.97): the battery's
    * (k=8, rows=4) is right at 5k docs — the base point; at 10M docs the
    * same bands glue unrelated docs through background similarity alone
    * (keep rate 80% → 59%, identical with and without boilerplate
    * stripping — the r11 matrix) while (k=16, rows=8) restores 80.4% —
    * and this formula with the default J_bg = 0.15 returns exactly those
    * two choices at those two sizes. THIRD measured point (r12): the
    * formula's plateau — (16,8) is returned up to the next growth step
    * at ~66M docs — verified at 50M docs: keep rate 80.41%, the planted
    * rate again, with the candidate shuffle linear in n (21.8 GB vs
    * 4.1 GB at 10M). The FIRST STEP itself was then probed from both
    * sides at 70M (just past it): the post-step (27,9) keeps 80.30%
    * (planted rate, +3.3 p.p. S-curve near-dup recall) and the pinned
    * pre-step (16,8) keeps 80.42% with no collapse — so the step is
    * measured conservative on that corpus, priced at +12% dedup wall /
    * +18% shuffle, never a wrong answer. Background similarity 0.15
    * reflects structured shingle spaces (shared char patterns across
    * unrelated docs); raise it toward 0.3 for very templated corpora,
    * which widens bands sooner.
    *
    * Use the result as `minHashSignature(sh, k)` + `lshBuckets(sig, k,
    * rowsPerBand)`. Widening bands does NOT substitute for
    * [[stripBoilerplate]]: chrome-heavy corpora lose RECALL (copies
    * differing only in chrome sink below the target J — measured
    * −6 p.p. keep rate at 2M docs), and no banding recovers a pair whose
    * true Jaccard fell; strip first, then band for the stripped corpus. */
  def suggestBanding(corpusSize: Long, targetJaccard: Double,
                     recallFloor: Double = 0.95,
                     backgroundJaccard: Double = 0.15,
                     baseCorpus: Long = 5000L, baseRows: Int = 4): (Int, Int) = {
    require(corpusSize > 0, "corpus size must be positive")
    require(targetJaccard > 0 && targetJaccard < 1, "target Jaccard in (0,1)")
    require(recallFloor > 0 && recallFloor < 1, "recall floor in (0,1)")
    require(backgroundJaccard > 0 && backgroundJaccard < 1, "background Jaccard in (0,1)")
    val growth = math.max(0.0, math.log(corpusSize.toDouble / baseCorpus))
    val r = baseRows + math.floor(growth / math.log(1.0 / backgroundJaccard)).toInt
    val pBand = math.pow(targetJaccard, r)
    val b = math.max(1, math.ceil(math.log1p(-recallFloor) / math.log1p(-pBand)).toInt)
    (b * r, r)
  }

  /** Candidate near-dup pairs: ids sharing any (band, bucket), id1 < id2,
    * distinct. `maxBucket` drops degenerate buckets (skew guard at scale). */
  def lshCandidates(buckets: DataFrame, maxBucket: Int = 1000): DataFrame = {
    // The bucket table is tiny (one row per doc per band) but its lineage —
    // shingle explode + signature aggregation — is the expensive part of the
    // whole pipeline. Persist it so the self-join's two sides don't each
    // recompute the upstream (measured 2x on the driver battery). The cache
    // is registered with Caches so long-lived callers can drain it.
    val trimmed = graft.util.Caches.retain(buckets
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("__n") <= maxBucket)
      .drop("__n"))
    val a = trimmed.select(col("id").as("d1"), col("band"), col("bucket"))
    val b = trimmed.select(col("id").as("d2"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
  }

  /** Incremental LSH dedup, step 1: candidate pairs of an incoming batch
    * against a PRE-BUILT corpus bucket index, plus within the batch itself —
    * the corpus is never self-joined, so per-batch cost is linear in the
    * batch regardless of corpus size (the production shape for a growing
    * corpus: index once, join each increment). Both inputs are
    * [[lshBuckets]] outputs with the same k/rowsPerBand (caller's contract,
    * as is id-disjointness between corpus and batch); persist the corpus
    * index bucketed by (band, bucket) and the equi-joins here shuffle only
    * the batch side.
    *
    * Results are EXACTLY [[lshCandidates]] over the union corpus restricted
    * to pairs touching the batch: the `maxBucket` skew cap counts corpus
    * AND batch members per (band, bucket), so processing a corpus in
    * increments or in one shot yields the same candidates over batch docs
    * (pinned against the same DuckDB pair CTEs as `dd_minhash_lsh` by
    * `dd_incremental`). Output (d1, d2) with d1 < d2 — corpus and batch ids
    * may interleave.
    *
    * Per-batch cost: work linear in the batch plus ONE pass over the index
    * (the equi-joins scan it but never shuffle or self-join it; bucketed
    * index storage makes them shuffle-free). Pass `corpusCounts` — the
    * per-(band, bucket) size aggregate a deployment stores alongside the
    * index — to skip recomputing it, leaving the candidate join as the
    * only index scan.
    *
    * The result is `localCheckpoint`ed EAGERLY: this call runs the
    * candidate job before it returns, and the returned frame's lineage is
    * cut at executor-local blocks. Those blocks cannot be recomputed, so
    * losing an executor that holds them fails every later action on the
    * frame — rerun the batch; the checkpoint trades that recovery for the
    * plan truncation described in the body. */
  def incrementalCandidates(corpusBuckets: DataFrame, batchBuckets: DataFrame,
                            maxBucket: Int = 1000,
                            corpusCounts: Option[DataFrame] = None): DataFrame =
    // The pair list is consumed at least twice downstream (components seeds
    // its edge union from two selects over it); it is small by construction
    // — batch-touching candidates only, skew-capped. localCheckpoint (not
    // persist, r20): every downstream action re-ANALYZES its logical plan,
    // and the pair lineage here contains the corpus and batch bucket
    // pipelines several times over — the final dd_incremental plan
    // measured ~1.1 MB of text with ~1100 Exchange nodes, costing ~1.7 s
    // of driver-side Catalyst time across the query's 12 jobs (ProfileJobs:
    // jobs sum 0.53 s, gap 1.73 s). The checkpoint truncates all of it to
    // one RDD leaf: downstream plans collapse (~979 → ~122 Exchange
    // mentions in the committed plan files) while execution is unchanged —
    // the same distinct() job that used to fill the cache now fills the
    // checkpoint blocks. Caches.track registers the blocks for drain().
    // (The un-checkpointed plan stays visible via
    // [[incrementalCandidatesPlan]] — OperatorsSpec's no-cartesian guard
    // asserts on it, since the checkpointed frame is just an RDD leaf.)
    graft.util.Caches.track(
      incrementalCandidatesPlan(corpusBuckets, batchBuckets, maxBucket,
        corpusCounts).localCheckpoint(true))

  /** [[incrementalCandidates]] before its plan-truncating checkpoint. */
  private[graft] def incrementalCandidatesPlan(
      corpusBuckets: DataFrame, batchBuckets: DataFrame,
      maxBucket: Int = 1000,
      corpusCounts: Option[DataFrame] = None): DataFrame = {
    // Both sides feed two consumers (the cap counts and a join); persist so
    // neither lineage — typically the shingle+minhash pipeline — runs
    // twice. A production corpus index is a materialized table, for which
    // this is merely a re-scan guard.
    val cb = graft.util.Caches.retain(
      corpusBuckets.select(col("id"), col("band"), col("bucket")))
    val bb = graft.util.Caches.retain(
      batchBuckets.select(col("id"), col("band"), col("bucket")))
    // Per-bucket cap over the UNION size — the invariant that makes
    // incremental == full-batch.
    val cCnt = corpusCounts
      .map(_.select(col("band"), col("bucket"), col("n").as("__nc")))
      .getOrElse(cb.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("__nc")))
    val ok = cCnt
      .join(bb.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("__nb")),
        Seq("band", "bucket"), "full")
      .where(coalesce(col("__nc"), lit(0L)) + coalesce(col("__nb"), lit(0L)) <= maxBucket)
      .select(col("band"), col("bucket"))
    // The batch side feeds both joins below — persist it, not the corpus.
    val bOk = graft.util.Caches.retain(bb.join(ok, Seq("band", "bucket")))
    // Corpus side joins the CAPPED BATCH buckets directly (r20): bOk rows
    // exist only in buckets that passed the cap, so the former extra
    // cb ⋈ ok step filtered nothing the bOk join doesn't — and at scale it
    // was a corpus-sized join against the (also corpus-sized) bucket-cap
    // table BEFORE the batch restriction. Joining cb against bOk first
    // means the only corpus-scale work is one equi-join against the small
    // batch index (broadcastable per increment) — the guide §3.2
    // "pre-filter the big side" shape. Same pairs by construction.
    val cross = cb.select(col("id").as("a"), col("band"), col("bucket"))
      .join(bOk.select(col("id").as("b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(least(col("a"), col("b")).as("d1"), greatest(col("a"), col("b")).as("d2"))
    val within = bOk.select(col("id").as("d1"), col("band"), col("bucket"))
      .join(bOk.select(col("id").as("d2"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
    cross.union(within).distinct()
  }

  /** Incremental dedup, step 2: the batch docs that survive against the
    * corpus and each other. Corpus precedence is absolute — a batch doc
    * transitively connected (via [[incrementalCandidates]] pairs) to ANY
    * corpus doc is dropped even when its own id is smaller; among
    * batch-only components the min id survives (the [[keepCanonical]]
    * rule). Transitivity is per the pair list: two batch near-dups of the
    * same corpus doc both drop, like a full-corpus components pass would
    * conclude. The fixpoint runs over pairs TOUCHING the batch only, so
    * its size — like everything per-increment — is independent of corpus
    * size. `corpusIds`: one column named `idCol`. */
  def incrementalKeep(batch: DataFrame, idCol: String, pairs: DataFrame,
                      corpusIds: DataFrame): DataFrame = {
    val labels = components(pairs) // (id, label = component min id)
    val corpusComps = labels
      .join(corpusIds.select(col(idCol).as("id")), Seq("id"))
      .select(col("label")).distinct()
    val drop = labels
      .join(corpusComps.withColumn("__c", lit(1)), Seq("label"), "left")
      .where(col("__c").isNotNull || col("id") =!= col("label"))
      .select(col("id").as(idCol))
    batch.join(drop, Seq(idCol), "left_anti")
  }

  /** n-gram Jaccard similarity for all pairs with J >= `threshold`, over the
    * shingle universe restricted to document frequency <= `maxDf`. Pairs
    * arise only from shared shingles (inverted-index join); without a df
    * cap the join size is Σ_sh df², which a single stop-shingle present in
    * most documents turns quadratic in corpus size. The cap bounds it by
    * maxDf × |postings| — linear in the corpus. Near-universal shingles
    * carry no dedup signal anyway (they don't discriminate), so both sizes
    * AND intersections use the capped universe for a consistent measure.
    * Output: (d1, d2, jac). */
  def jaccardPairs(shingles: DataFrame, threshold: Double,
                   maxDf: Int = Int.MaxValue): DataFrame = {
    // One shuffle by shingle computes df inline; persist because the frame
    // feeds multiple consumers (sizes + the pair generator's side(s)).
    val rare = graft.util.Caches.retain(shingles
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
      .filter(col("__df") <= maxDf)
      .drop("__df"))
    val sizes = rare.groupBy(col("id")).agg(count(lit(1)).as("n"))
    // Pair generation from sorted postings (r20, guide §2.3): per shingle,
    // collect the (already df-capped, hence bounded at maxDf entries)
    // doc-id posting list sorted ascending, then emit each ordered pair
    // once — posexplode picks d1, a slice explode yields every later
    // element as d2. The former self-join generated the full df² candidate
    // square and then DISCARDED half of it at the d1 < d2 filter, plus
    // paid a per-bucket hash-table build; this streams exactly
    // df·(df−1)/2 rows with no join. The d1 < d2 filter is kept as free
    // insurance for inputs violating the distinct-(id, sh) contract
    // ([[charShingles]] guarantees it; a duplicated (id, sh) row would
    // otherwise surface as a (x, x) self-pair where the old join shape
    // silently dropped it). Aggregation state is bounded ONLY because the
    // df cap filters BEFORE collect_list — so the posting form is gated on
    // a sane finite cap, and an uncapped call keeps the pre-r20 self-join,
    // which spills gracefully where a vocabulary-wide posting list would
    // be one unspillable multi-GB aggregation buffer.
    val inter = (if (maxDf <= (1 << 17)) {
      val posts = rare.groupBy(col("sh"))
        .agg(sort_array(collect_list(col("id"))).as("__ids"))
      posts
        .select(col("__ids"), posexplode(col("__ids")).as(Seq("__i", "d1")))
        .select(col("d1"),
          explode(slice(col("__ids"), col("__i") + lit(2), size(col("__ids"))))
            .as("d2"))
        .where(col("d1") < col("d2"))
    } else {
      rare.select(col("id").as("d1"), col("sh"))
        .join(rare.select(col("id").as("d2"), col("sh")), "sh")
        .where(col("d1") < col("d2"))
        .select(col("d1"), col("d2"))
    }).groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("id").as("d1"), col("n").as("na")), "d1")
      .join(sizes.select(col("id").as("d2"), col("n").as("nb")), "d2")
      .withColumn("jac", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .where(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("jac"))
  }

  /** SimHash over whitespace tokens: per bit p, sum (+1/-1) of bit p of
    * md5(token) across tokens; fingerprint sets bit p iff the sum is
    * positive. The ±1 sum is positive iff 2 × (tokens with bit p set) >
    * n_tokens, so all bit counts run as aggregate columns of a SINGLE
    * groupBy — no nBits× row explosion and one shuffle instead of two (the
    * naive (id, p) explode shape moves 32× the data at corpus scale). Pure
    * codegen'd expressions (instr/shiftright on hex chars).
    *
    * `nBits` up to 64 (md5 has 128 bits available). 32-bit matches the
    * cross-engine oracle battery; 64-bit is the production scale choice —
    * [[simHashPairs]] banding with maxHamming=3 then keys on 16-bit bands
    * (candidate volume ~n²/2^16 per band instead of n²/2^8).
    *
    * `fastHash` swaps the per-token hash to codegen'd `xxhash64` with plain
    * long shifts for the bit extraction (no md5, no hex-string parsing) —
    * the same md5→xxhash64 family swap as [[minHashSignature]], for the
    * same reason (BENCH.md §DedupScale), with the same caveat: a different
    * random family, NOT cross-engine-stable, so oracle-gated battery rows
    * keep md5; identical texts fingerprint identically under either family
    * (OperatorsSpec). */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
              nBits: Int = 32, fastHash: Boolean = false): DataFrame = {
    require(nBits >= 1 && nBits <= 64, "nBits must be in [1, 64]")
    graft.functions.GramFunctions.register(docs.sparkSession)
    // md5 family (r19): md5_bits64 carries the digest's first 64 bits as
    // ONE long — bit p is a shift/mask, where the hex-string form paid an
    // instr + substring chain per (token, bit). Bit values identical
    // (GramFunctionsSpec pins the mapping), so fingerprints and the
    // cross-engine oracles are untouched.
    val toks = docs.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("tok"))
      .select(col("id"),
        (if (fastHash) xxhash64(col("tok"))
         else call_function("md5_bits64", col("tok"))).as("h"))
    val bitSums = (0 until nBits).map { p =>
      if (fastHash) sum(expr(s"(h >> $p) & 1")).as(s"__s$p")
      else sum(expr(s"(h >> ${63 - p}) & 1")).as(s"__s$p")
    }
    toks.groupBy(col("id"))
      .agg(count(lit(1)).as("__n"), bitSums: _*)
      .select(col("id"),
        (0 until nBits).map { p =>
          when(col(s"__s$p") * 2 > col("__n"), lit(1L << p)).otherwise(0L)
        }.reduce(_ + _).as("fp"))
  }

  /** Near-dup pairs by SimHash Hamming distance <= `maxHamming`, found by
    * banded candidate generation: the `nBits`-bit fingerprint splits into
    * `maxHamming + 1` disjoint bit-bands; by pigeonhole, any pair within
    * distance maxHamming agrees exactly on at least one band, so joining on
    * (band, band-value) equality — a plain shuffle equi-join, never a
    * cartesian product — has **guaranteed 100% recall**. The exact
    * bit_count filter then removes false candidates, so the result is
    * identical to the all-pairs scan. Candidate volume scales as
    * Σ_bucket n_b² per band; with w-bit bands that's ~n²/2^w per band —
    * wider fingerprints (64-bit) drive it down further at corpus scale. */
  def simHashPairs(fps: DataFrame, maxHamming: Int, nBits: Int = 32): DataFrame = {
    val nBands = maxHamming + 1
    require(nBands <= nBits, "need at least one bit per band")
    val bands = (0 until nBands).map { b =>
      val lo = b * nBits / nBands
      val width = (b + 1) * nBits / nBands - lo
      struct(lit(b).as("band"),
        expr(s"(fp >> $lo) & ${(1L << width) - 1}").as("bv"))
    }
    val banded = fps
      .select(col("id"), col("fp"), explode(array(bands: _*)).as("bb"))
      .select(col("id"), col("fp"), col("bb.band"), col("bb.bv"))
    val a = banded.select(col("id").as("d1"), col("fp").as("fa"), col("band"), col("bv"))
    val b = banded.select(col("id").as("d2"), col("fp").as("fb"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv")).where(col("d1") < col("d2"))
      .withColumn("ham", expr("bit_count(fa ^ fb)"))
      .where(col("ham") <= maxHamming)
      .select(col("d1"), col("d2"), col("ham"))
      .distinct() // a close pair can agree on several bands
  }

  /** Connected components over an undirected duplicate-pair list (d1, d2):
    * iterative min-label propagation — each node repeatedly takes the
    * smallest label among itself and its neighbors until fixpoint. Returns
    * (id, label) where label = the component's minimum id, so results are
    * deterministic in any engine. Converges in O(component diameter)
    * distributed joins; near-dup clusters are shallow in practice (every
    * member pairs with the canonical original), so a handful of iterations
    * suffice even at corpus scale. Each iteration localCheckpoints to keep
    * the plan from growing with the loop. */
  def components(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    componentsWithRounds(pairs, maxIters)._1

  /** Single-task exact components for a SMALL edge set: one union-find pass
    * over the whole (bidirectional) edge list in a single partition.
    * Union-by-min keeps every tree's root at its component's minimum id, so
    * the output (id, label = component min) is identical to the fixpoint's
    * — the routing threshold changes cost, never results. Exists because
    * the distributed fixpoint pays a per-round floor of two jobs +
    * checkpoint I/O (~4 s at battery SF) that dwarfs a few thousand edges;
    * at 100 TB the threshold simply never fires. */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("a").as[Long], col("b").as[Long])
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        parent.keys.toArray.iterator.map(id => (id, find(id)))
      }
      .toDF("id", "label")
  }

  /** [[components]] plus the number of fixpoint rounds it ran — the scale
    * probe (graft.ComponentsScale) validates the O(log diameter) claim
    * against this. Edge sets at or under `localEdgeThreshold` directed
    * rows (= 2× pairs) with long ids route to [[localComponents]] instead
    * (reported as 0 rounds); pass 0 to force the distributed fixpoint,
    * e.g. to measure it at sizes the threshold would short-circuit. */
  def componentsWithRounds(pairs: DataFrame, maxIters: Int = 50,
                           localEdgeThreshold: Long = 100000L): (DataFrame, Int) = {
    val edges = graft.util.Caches.retain(
      pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
    // The count doubles as the cache materialization the seed aggregation
    // below would otherwise pay; long-only guard keeps the fixpoint's
    // type-preserving behavior for any non-long id scheme.
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (localEdgeThreshold > 0 && longIds && edges.count() <= localEdgeThreshold)
      return (localComponents(edges), 0)
    // Seed with min(id, min neighbor) — one aggregation over the (already
    // bidirectional) edge list, same shuffle the identity-label distinct()
    // would cost, but it collapses every star in "round 0" for free: one
    // fewer join round both here and at 100x scale.
    var labels = edges.groupBy(col("a"))
      .agg(min(col("b")).as("__nb"))
      .select(col("a").as("id"), least(col("a"), col("__nb")).as("label"))
    var changed = 1L
    var i = 0
    var prevRound: Seq[DataFrame] = Nil
    while (changed > 0 && i < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("label").as("blabel")), "b")
        .groupBy(col("a").as("id")).agg(min(col("blabel")).as("nbr"))
      // Carry the previous label through the round so convergence needs no
      // extra join against the old frame.
      val hop = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
          col("label").as("__old"))
      // Eager local checkpoint, EVERY round, before the self-join. Both of
      // its effects are load-bearing and measured:
      //  - materialization: the path-halving self-join below reads `hop`
      //    on both sides, and an un-materialized frame re-executes its
      //    two-join lineage once per side per round (the lshCandidates
      //    rule; skipping it measured 4-8x slower at sf0.1);
      //  - plan truncation: the self-join doubles the logical plan every
      //    round, so persist-only rounds pay exponentially growing driver
      //    planning time (measured 1.5s -> 3.3s -> 6.9s per round on a few
      //    thousand changed labels). A checkpoint every K rounds still
      //    leaves 2^K-deep plans; only flat-per-round stays O(1).
      val hopM = hop.localCheckpoint(true)
      // Path halving: jump to the label's own label, so label chains
      // collapse exponentially — O(log diameter) rounds instead of
      // O(diameter).
      val next = hopM
        .join(hopM.select(col("id").as("__lid"), col("label").as("__ll")),
          col("label") === col("__lid"), "left")
        .select(col("id"), coalesce(col("__ll"), col("label")).as("label"),
          col("__old"))
        .localCheckpoint(false) // lazy: the count below materializes it
      // Second (and last) job of the round: materializes `next` into its
      // checkpoint blocks and computes convergence in the same pass.
      changed = next.where(col("label") =!= col("__old")).count()
      // The previous round's checkpoint blocks are provably dead once this
      // round's `next` is materialized (all state lives in next's own
      // blocks) — free them now rather than waiting for driver GC + the
      // context cleaner, which at ComponentsScale sizes lets multi-GB of
      // dead label frames pile up across rounds.
      prevRound.foreach(graft.util.Caches.freeCheckpoint)
      prevRound = Seq(hopM, next)
      labels = next.select(col("id"), col("label"))
      i += 1
    }
    // The final round's hop is dead too; its `next` backs the returned
    // frame — track it so the caller's drain() can free the blocks.
    prevRound.headOption.foreach(graft.util.Caches.freeCheckpoint)
    prevRound.drop(1).foreach(graft.util.Caches.track)
    (labels, i)
  }

  /** Duplicate clusters from a pair list: one row per component with its
    * canonical representative (min id — the doc a dedup pass would keep)
    * and member count. The standard last step of a near-dup pipeline:
    * pairs → clusters → keep one per cluster. */
  def clusters(pairs: DataFrame): DataFrame =
    components(pairs)
      .groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"))

  /** The dedup pipeline's final materialization: the corpus with every
    * duplicate-cluster member dropped except its canonical (min-id)
    * representative; rows never named in a pair pass through untouched.
    * The drop list holds only duplicate ids — usually far smaller than
    * the corpus, in which case AQE turns the anti-join into a broadcast;
    * when a corpus IS mostly duplicates it stays a safe shuffled anti-join
    * rather than an overflowing forced broadcast. */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val dups = components(pairs)
      .where(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(dups, Seq(idCol), "left_anti")
  }

  /** Span-level exact dedup (the C4-style sub-document pass: drop every
    * repeated N-token span corpus-wide, keeping its first occurrence):
    * documents are cut into contiguous `n`-token spans
    * ([[TextAnalysis.chunks]] with zero overlap), each distinct span text
    * survives only at its globally-first (doc_id, span_idx) site, and
    * documents are rebuilt from their surviving spans in order. Output one
    * row per input document: (doc_id, n_spans, n_kept, clean_text) —
    * clean_text is '' for a fully-duplicated document, which a downstream
    * length filter then drops.
    *
    * Shape at scale: exactly two exchanges — a window partitioned by span
    * hash picks first occurrences (rank over the 16-byte md5 key, no
    * groupBy+join-back; the shuffle carries (doc, idx, span) once), then a
    * groupBy(doc_id) rebuilds. collect_list skips the NULLs the keep-flag
    * leaves, and sort_array on (idx, span) structs restores document
    * order deterministically. */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col("doc_id"), col("chunk_idx"))
    TextAnalysis.chunks(docs, idCol, textCol, n, 0)
      .withColumn("__h", md5(col("chunk")))
      .withColumn("__keep", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(sort_array(collect_list(CASE WHEN __keep THEN " +
          "struct(chunk_idx, chunk) END)), s -> s.chunk)"), " ")
          .as("clean_text"))
  }

  /** Line units of a document: (doc_id, unit_idx, unit), split on the
    * `sep` regex (default newline). The unit producer for
    * [[stripBoilerplate]]; corpora without line structure can use
    * [[TextAnalysis.chunks]] spans as units instead. */
  def lines(docs: DataFrame, idCol: String, textCol: String,
            sep: String = "\n"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), sep)).as(Seq("unit_idx", "unit")))

  /** Boilerplate / line-level dedup — the CCNet / RefinedWeb pre-dedup
    * stage (Wenzek et al. 2019 "CCNet"; Penedo et al. 2023 "RefinedWeb"
    * both run line-level dedup before document-level MinHash): drop every
    * unit (line, paragraph, or token span) whose distinct-DOCUMENT
    * frequency reaches `minDf` — headers, footers, cookie banners,
    * navigation chrome — and rebuild each document from its surviving
    * units in order. What boilerplate does to MinHash dedup downstream
    * (measured, BENCH.md §PipelineScale r11): it hides REAL duplicates —
    * two copies of the same content wrapped in different site chrome sink
    * from J ≈ 0.97 to ≈ 0.55 and escape any banding tuned for near-dups
    * (2M-doc chrome corpus: 6% of the corpus shipped as undetected
    * duplicates; stripping first restored the planted keep rate exactly).
    * Its glue direction — chrome-only band buckets merging unrelated
    * docs — is largely absorbed by [[lshCandidates]]' degenerate-bucket
    * cap; recall is what stripping buys.
    *
    * Input `units`: (doc_id, unit_idx, unit) — [[lines]] or
    * [[TextAnalysis.chunks]] renamed. Output one row per input document:
    * (doc_id, n_units, n_kept, clean_text); a fully-boilerplate document
    * rebuilds to '' for a downstream length filter to drop.
    *
    * Shape at 100 TB: units key by their md5 (16-byte shuffle key, not
    * the line text); doc frequency is one hash aggregate
    * (countDistinct — Catalyst's two-phase partial/final, no window over
    * a giant per-line partition and no collect_set whose state grows with
    * df); the keep decision joins back on the hash (plain shuffle
    * equi-join, AQE-skew-safe — a boilerplate hash with huge df is ONE
    * row on the build side); the rebuild is the [[dedupSpans]] groupBy.
    * Nothing driver-side, nothing quadratic: total cost is three
    * exchanges over one row per unit occurrence. Engine-exact (md5 +
    * integer counts), so the DuckDB oracle mirrors it verbatim;
    * `fastHash` swaps the unit key to codegen'd xxhash64 (the package's
    * production family — cheaper, NOT cross-engine-stable, same results
    * up to hash collisions either way). */
  def stripBoilerplateUnits(units: DataFrame, minDf: Long,
                            joinSep: String = "\n",
                            fastHash: Boolean = false): DataFrame = {
    require(minDf >= 2, "minDf < 2 would strip every unit")
    val u = units.select(col("doc_id"), col("unit_idx"), col("unit"),
      (if (fastHash) xxhash64(col("unit")).cast("string")
       else md5(col("unit"))).as("__h"))
    val dfTab = u.groupBy(col("__h"))
      .agg(countDistinct(col("doc_id")).as("__df"))
    u.join(dfTab, Seq("__h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("__df") < minDf, 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          s"transform(sort_array(collect_list(CASE WHEN __df < $minDf " +
          "THEN struct(unit_idx, unit) END)), s -> s.unit)"), joinSep)
          .as("clean_text"))
  }

  /** [[stripBoilerplateUnits]] over [[lines]]: line-level boilerplate
    * strip splitting on `sep` (used as both the split regex and the
    * rebuild separator — pass a literal like "\n" or " "; for a
    * non-literal regex call the units form directly). */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       minDf: Long, sep: String = "\n",
                       fastHash: Boolean = false): DataFrame =
    stripBoilerplateUnits(lines(docs, idCol, textCol, sep), minDf, sep, fastHash)

  /** [[stripBoilerplate]] with a broadcast boilerplate set instead of the
    * generic three-exchange unit path — same results, a fraction of the
    * shuffle. The df >= minDf set is CHROME, and chrome is small by
    * definition: at most totalUnitOccurrences / minDf distinct units can
    * clear the threshold (each needs minDf distinct docs), e.g. a 1 %-of-
    * corpus threshold bounds it at 100 × avgUnitsPerDoc entries
    * regardless of corpus size. So: one narrow hash aggregate finds the
    * set (shuffling only the unit key, never doc ids alongside text), a
    * single collected row carries it, and each document rebuilds
    * MAP-SIDE with a higher-order `filter` against the broadcast array —
    * no exploded-row join, no regroup, no collect_list sort. Measured at
    * 10M docs / 400M units (BENCH.md §PipelineScale): 281 s / 28 GB
    * shuffle → map-side, unit-key-only shuffle.
    *
    * Output schema and semantics are identical to [[stripBoilerplate]]
    * (OperatorsSpec pins equality; the battery twin shares its DuckDB
    * oracle verbatim). Membership is compared on the unit STRING, not a
    * hash, so the fast path is exact with no collision caveat.
    *
    * Runtime-guarded (r12): the totalUnits/minDf bound above only holds
    * when minDf is corpus-proportional — minDf = 2 over single tokens
    * makes "boilerplate" the whole repeated vocabulary and the collect
    * would OOM the driver. So the boilerplate set is counted FIRST (one
    * narrow unit-key aggregate, cached so the collect pass reuses it)
    * and anything above `maxBroadcastUnits` falls back to the
    * three-exchange unit path — same results, safe by construction.
    *
    * NOTE the guard makes this method EAGER: the count runs one Spark
    * job at CALL time (unlike the fully-lazy builders elsewhere in this
    * package) — constructing the result without consuming it still pays
    * that aggregate pass. When the guard trips, the oversized cached set
    * is unpersisted before falling back, so a long-lived session never
    * holds the degenerate vocabulary-sized block until a drain. */
  def stripBoilerplateFast(docs: DataFrame, idCol: String, textCol: String,
                           minDf: Long, sep: String = "\n",
                           maxBroadcastUnits: Long = 1L << 20): DataFrame = {
    require(minDf >= 2, "minDf < 2 would strip every unit")
    // Null text: posexplode in the unit path emits no rows, so the doc is
    // absent from its output — mirror that here rather than emitting a
    // degenerate size(null) row.
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), sep).as("__toks"))
      .where(col("__toks").isNotNull)
    // The FILTERED set is what gets cached: tiny when minDf is healthy
    // (the broadcast bound), and counting it costs one aggregate pass
    // that the collect below then reads back from cache.
    val boilSet = graft.util.Caches.retain(
      toks.select(col("doc_id"), explode(col("__toks")).as("unit"))
        .groupBy(col("unit")).agg(countDistinct(col("doc_id")).as("__df"))
        .where(col("__df") >= minDf)
        .select(col("unit")))
    if (boilSet.count() > maxBroadcastUnits) {
      // Release the oversized set now (it is > maxBroadcastUnits entries —
      // the biggest possible cached block, for exactly the misuse the
      // guard exists for) instead of holding it until the session drains;
      // a later Caches.drain's second unpersist is an idempotent no-op.
      boilSet.unpersist(blocking = false)
      return stripBoilerplate(docs, idCol, textCol, minDf, sep)
    }
    val boil = boilSet.agg(sort_array(collect_list(col("unit"))).as("__boil"))
    toks.crossJoin(broadcast(boil))
      .select(col("doc_id"), col("__toks"),
        filter(col("__toks"),
          t => not(array_contains(col("__boil"), t))).as("__kept"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_units"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), sep).as("clean_text"))
  }

  /** All-pairs exact cosine pairs (cos >= threshold). O(n²) by definition —
    * a verification/recall baseline for [[embeddingNearDups]] on small n,
    * NOT a scale path (the only deliberate cross join in this package). */
  def exactCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", expr("vec_norm(v)"))
    val a = e.select(col("id").as("v1"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("id").as("v2"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b).where(col("v1") < col("v2"))
      .withColumn("dot", expr("vec_dot(va, vb)"))
      .where(col("dot") / (col("na") * col("nb")) >= threshold)
      .select(col("v1"), col("v2"))
  }

  /** Embedding cosine near-dup pairs (cos >= threshold) via multi-table
    * sign-LSH candidate generation + exact cosine re-rank: candidates are
    * pairs sharing a bucket in any of `nTables` independent `nBits`-bit
    * quantized-hyperplane tables ([[Ann.multiTableQBuckets]] — all-integer,
    * engine-exact), then the exact codegen'd dot product keeps only true
    * near-dups. Precision is exact; recall < 1 by design (pairs bucketed
    * apart in every table are missed — OR-amplification over tables trades
    * candidate volume for recall). Every join is an equi-join on
    * (tbl, bucket) or id — no cartesian product at any scale. */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, dim: Int = 64, nBits: Int = 6,
                        nTables: Int = 8): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val e = graft.util.Caches.retain(
      emb.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("nrm", expr("vec_norm(v)")))
    val bk = graft.util.Caches.retain(
      Ann.multiTableQBuckets(e, "id", "v", dim, nBits, nTables))
    val cand = bk.select(col("id").as("v1"), col("tbl"), col("bucket"))
      .join(bk.select(col("id").as("v2"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .where(col("v1") < col("v2"))
      .select(col("v1"), col("v2")).distinct()
    cand
      .join(e.select(col("id").as("v1"), col("v").as("va"), col("nrm").as("na")), "v1")
      .join(e.select(col("id").as("v2"), col("v").as("vb"), col("nrm").as("nb")), "v2")
      .withColumn("dot", expr("vec_dot(va, vb)"))
      .where(col("dot") / (col("na") * col("nb")) >= threshold)
      .select(col("v1"), col("v2"))
  }

  /** SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means the embedding space into cells
    * ([[Ann.ivfAssign]] — deterministic lowest-id init), generate candidate
    * pairs only WITHIN a cell, and keep those whose exact cosine clears the
    * threshold. Cell-locality bounds candidates at Σ|cell|² ≈ n²/nCells for
    * balanced cells — the knob that makes all-pairs semantic dedup
    * tractable at corpus scale (the paper runs 50k clusters over 440M
    * embeddings; nCells grows with n, keeping per-cell work flat). The
    * within-cell self-join reads a persisted frame (the package's self-join
    * materialization rule) and joins on the cell key — no cartesian.
    * Precision is exact (every emitted pair passed the true cosine test);
    * recall < 1 by design — a pair straddling a cell boundary is missed
    * (battery-gated by dd_semantic_recall). Near-duplicate pairs sit so
    * close that cell boundaries rarely split them even on the hardest
    * (near-uniform) corpus: BENCH.md §RecallScale measures planted-pair
    * recall 0.97 at 1 probe and 1.00 at 2 probes on both overlapping and
    * well-separated mixtures — nProbes=2 saturates the near-dup use case. */
  def semanticPairs(emb: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, dim: Int = 64, nCells: Int = 8,
                    iters: Int = 2, nProbes: Int = 1): DataFrame = {
    val (_, centroids) = Ann.ivfAssign(emb, idCol, vecCol, dim, nCells, iters)
    // Multi-probe assignment (nProbes > 1): each vector lands in its
    // nProbes nearest cells, so a pair straddling one boundary still
    // co-locates somewhere — candidate volume scales ×nProbes², recall
    // climbs without touching nCells; distinct() collapses pairs caught
    // in several shared cells.
    val e = graft.util.Caches.retain(
      emb.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("cell",
          explode(Ann.probeCellsCol("v", centroids, nProbes).getField("cell")))
        .withColumn("nrm", expr("vec_norm(v)")))
    e.select(col("cell"), col("id").as("v1"), col("v").as("va"), col("nrm").as("na"))
      .join(e.select(col("cell"), col("id").as("v2"), col("v").as("vb"), col("nrm").as("nb")),
        Seq("cell"))
      .where(col("v1") < col("v2"))
      .withColumn("dot", expr("vec_dot(va, vb)"))
      .where(col("dot") / (col("na") * col("nb")) >= threshold)
      .select(col("v1"), col("v2")).distinct()
  }

  /** Semantic dedup materialization: the corpus with every
    * semantic-duplicate component member dropped except its min-id
    * canonical ([[keepCanonical]] over [[semanticPairs]]). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, dim: Int = 64, nCells: Int = 8,
                    iters: Int = 2, nProbes: Int = 1): DataFrame =
    keepCanonical(emb, idCol,
      semanticPairs(emb, idCol, vecCol, threshold, dim, nCells, iters, nProbes)
        .select(col("v1").as("d1"), col("v2").as("d2")))
}
