package graft.ops

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data curation, designed scale-
  * first: every variant is a groupBy/equi-join on a derived key — no
  * cross joins, no driver-side state.
  *
  *  - exact:   hash-groupBy on normalized text
  *  - minhash: shingles → k minhashes → LSH bands → bucket equi-join
  *  - simhash: 64-bit weighted-bit signature, bucket by chunks
  *             (Hamming-distance candidates via pigeonhole)
  *  - ngram:   exact Jaccard via inverted shingle index
  *  - winnow:  rolling-hash fingerprints catching PARTIAL overlap
  */
object Dedup {

  /** Exact dedup: keep the lowest-id representative per normalized text.
    * One shuffle (map-side combinable min); normalization is the fused
    * [[graft.functions.NormalizeTextExpr]] (==
    * `regexp_replace(lower(trim(text)), "\\s+", " ")`). */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(graft.functions.NormalizeTextExpr(col(text)).as("norm_text"))
      .agg(min(col(id)).as(id), count(lit(1)).as("dup_count"))

  /** MinHash signatures: `numHashes` permutations approximated by
    * (a*h + b) mod p over FNV-1a shingle hashes
    * ([[graft.functions.ShingleHashesExpr.fnv]] — FNV, not xxhash64,
    * is what keeps the whole signature reproducible in the cross-engine
    * oracle). Returns the input plus a `minhash` array column.
    *
    * p is the 31-bit Mersenne prime so a*h + b stays well inside a Long
    * (a, b, h < 2^31 → product < 2^62): Spark 4's ANSI mode throws on
    * overflow, and a 61-bit prime would overflow the multiply. Signature
    * quality only needs the permutation family to be pairwise
    * independent mod p, which 31 bits provides. */
  /** 2^31 - 1, the Mersenne prime the permutation family works mod. */
  final val MinHashP = 2147483647L

  /** The (a, b) permutation coefficients for `minhash` — public so the
    * cross-engine oracle can inline the exact same constants. */
  def minhashCoefs(numHashes: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)((math.abs(rnd.nextLong()) % (MinHashP - 1) + 1,
      math.abs(rnd.nextLong()) % MinHashP))
  }

  def minhash(df: DataFrame, text: String, shingleK: Int, numHashes: Int,
      seed: Long = 42L): DataFrame = {
    val coefs = minhashCoefs(numHashes, seed)
    // fused pass: FNV shingle hashes (ShingleHashesExpr.fnv — portable,
    // so the whole signature reproduces in the SQL oracle) → whole
    // signature (MinHashSigExpr: pmod(h, p), then per-coefficient
    // (a·h + b) mod p folds)
    df.withColumn("minhash", graft.functions.MinHashSigExpr(
      graft.functions.ShingleHashesExpr.fnv(col(text), shingleK),
      coefs.map(_._1), coefs.map(_._2), MinHashP))
  }

  /** LSH banding: explode the signature into `bands` rows keyed by
    * (band index, hash of the band slice); docs sharing any band bucket
    * are near-dup candidates. Candidate generation is a self-equi-join
    * on the bucket key — shuffle-partitioned by bucket, which is the
    * standard way this stays tractable at 10^10 docs. Returns distinct
    * candidate (id_a < id_b) pairs. */
  def lshCandidates(withSig: DataFrame, id: String, bands: Int,
      sigLen: Int): DataFrame = {
    val rowsPerBand = sigLen / bands
    // xxhash64 is fine HERE (unlike the signature path above): the
    // band-bucket key only has to collide equal slices — it never needs
    // cross-engine reproduction, because the oracle re-derives candidates
    // from the signatures themselves, not from the bucket ids. Don't
    // "harmonize" it to FNV and don't use it in an oracle-visible value.
    val bandCols = (0 until bands).map(b =>
      xxhash64(lit(b),
        concat_ws(",", slice(col("minhash"), b * rowsPerBand + 1, rowsPerBand))))
    val buckets = withSig
      .select(col(id), posexplode(array(bandCols: _*)))
      .toDF(id, "band", "bucket")
    val a = buckets.select(col(id).as("id_a"), col("band"), col("bucket"))
    val b = buckets.select(col(id).as("id_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** The PLANNED batch entry point — [[lshCandidates]] with the
    * banding dial SOLVED from the corpus size ([[bandingPlan]])
    * instead of caller-pinned: shingle+minhash the documents at the
    * solved signature length, band at the solved (bands, rowsPerBand),
    * return the candidate pairs plus the plan (recall and expected
    * false-candidate numbers included, for the pipeline's planning
    * logs). This is the library DEFAULT a growing deployment should
    * call: a banding triple pinned at corpus size n accumulates
    * unrelated-pair collisions linearly as the corpus grows G× (the
    * growth law measured in PLANS.md round 4 and solved by
    * [[bandingPlan]]); the streaming admission path already seeds
    * from the same solver ([[graft.stream.StreamAdmit
    * .seedIndexPlanned]]) — this closes the batch path. The pinned
    * overload stays for oracle queries and for callers reproducing a
    * recorded configuration. One extra action: the corpus count that
    * feeds the solver (metadata-cheap on parquet sources). */
  def lshCandidatesPlanned(docs: DataFrame, id: String, text: String,
      targetSim: Double, shingleK: Int = 3, backgroundSim: Double = 0.1,
      minRecall: Double = 0.9, falseCandidateBudget: Double = 10.0,
      seed: Long = 42L): (DataFrame, BandingPlan) = {
    val plan = bandingPlan(docs.count(), targetSim, backgroundSim,
      minRecall, falseCandidateBudget)
    val sigs = minhash(docs.select(col(id), col(text)), text, shingleK,
      plan.sigLen, seed)
    (lshCandidates(sigs, id, plan.bands, plan.sigLen), plan)
  }

  /** Asymmetric LSH candidates: NEW documents against an EXISTING
    * signature index — the incremental-dedup shape of a production
    * pipeline (check incoming docs against the corpus fingerprints;
    * never re-cluster the corpus). Only new×index band buckets join —
    * the index side never self-joins, so a batch costs
    * O(|new|·bands) exploded rows plus the matched buckets, not
    * O(|index|²). Returns distinct (new_id, index_id) pairs. */
  def lshCandidatesAgainst(indexSigs: DataFrame, newSigs: DataFrame,
      id: String, bands: Int, sigLen: Int,
      broadcastBatch: Boolean = true): DataFrame = {
    // the batch side is usually small — broadcast it so the index side
    // streams map-side with NO shuffle: a batch then costs one scan of
    // the banded index plus the matched buckets, and the slope vs
    // index size is scan speed, not shuffle speed (measured in
    // PLANS.md's IncScale table). AQE usually picks this plan on its
    // own; the hint makes it survive bad stats at 100 TB. The hint is
    // a CALLER promise, not a fact the engine can check cheaply —
    // a pipeline admitting unbounded batches passes broadcastBatch =
    // false (bands × |batch| rows must fit one executor) and lets
    // AQE's size-based choice pick the join side from runtime stats.
    val newSide = bandBuckets(newSigs, id, bands, sigLen, as = "new_id")
    (if (broadcastBatch) broadcast(newSide) else newSide)
      .join(bandBuckets(indexSigs, id, bands, sigLen, as = "index_id"),
        Seq("band", "bucket"))
      .select("new_id", "index_id").distinct()
  }

  /** The banded fingerprint index AS DATA: one narrow (id, band,
    * bucket) row per document-band — what a production incremental
    * pipeline PERSISTS (sorted by (band, bucket)) instead of re-banding
    * the corpus's signatures on every batch. 8-byte bucket hashes, no
    * signature arrays: the stored index is tiny relative to the corpus
    * and append-only as new batches are admitted. */
  def bandBuckets(sigs: DataFrame, id: String, bands: Int, sigLen: Int,
      as: String = "id"): DataFrame = {
    val rowsPerBand = sigLen / bands
    val bandCols = (0 until bands).map(b =>
      xxhash64(lit(b),
        concat_ws(",", slice(col("minhash"), b * rowsPerBand + 1, rowsPerBand))))
    sigs.select(col(id), posexplode(array(bandCols: _*)))
      .toDF(as, "band", "bucket")
  }

  /** Probe a STORED banded index ([[bandBuckets]] output, e.g. read
    * back from parquet) with an incoming batch: broadcast the batch's
    * buckets, stream the index map-side — no signature recompute for
    * the corpus, no re-banding, no index shuffle, no index×index join.
    * Returns distinct (new_id, index_id) candidate pairs, identical to
    * [[lshCandidatesAgainst]] over the same population. */
  def probeBandedIndex(index: DataFrame, newSigs: DataFrame, id: String,
      bands: Int, sigLen: Int, indexIdCol: String = "index_id",
      broadcastBatch: Boolean = true): DataFrame = {
    // same broadcast contract as [[lshCandidatesAgainst]]
    val newSide = bandBuckets(newSigs, id, bands, sigLen, as = "new_id")
    (if (broadcastBatch) broadcast(newSide) else newSide)
      .join(index.select(col(indexIdCol).as("index_id"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .select("new_id", "index_id").distinct()
  }

  /** A solved LSH banding configuration: `bands` bands of
    * `rowsPerBand` rows (signature length = product), with the
    * S-curve numbers that justify it. */
  final case class BandingPlan(bands: Int, rowsPerBand: Int,
      recallAtTarget: Double, expectedFalseCandidatesPerDoc: Double) {
    def sigLen: Int = bands * rowsPerBand
  }

  /** Solve the LSH banding dial for a corpus size — the computed form
    * of the growth law measured in PLANS.md (round 4): with fixed
    * banding, unrelated pairs collide with constant probability, so
    * candidates grow quadratically; holding candidates-per-doc flat
    * while the corpus grows G× means adding ~log(G) rows to each band
    * and re-widening recall with more bands. This function does that
    * arithmetic so a 10⁹-doc deployment derives its config instead of
    * hand-picking one.
    *
    * Inputs are the two points of the S-curve that matter: the
    * similarity you must CATCH (`targetSim`, band-collision
    * probability p^rows with p = targetSim for minhash; for
    * random-hyperplane cosine LSH pass p = 1 - acos(cos)/π) and the
    * background similarity of unrelated pairs (`backgroundSim`).
    * Solves for the smallest rows-per-band keeping expected false
    * candidates per doc ≤ `falseCandidateBudget`, then the fewest
    * bands reaching `minRecall` at the target:
    * `recall = 1 - (1 - p^r)^b  ⟹  b = ⌈ln(1-minRecall)/ln(1-p^r)⌉`.
    *
    * The returned plan drops into [[lshCandidates]] /
    * [[bandBuckets]] unchanged — same plan shape, same ids-only
    * shuffles, just more/wider bands. (The shipped demo queries pin
    * their configs for oracle stability; a production pipeline calls
    * this at job-planning time with the catalog's row count.)
    *
    * Model assumption, measured (BandScale, PLANS.md round 9): the
    * S-curve treats each pair's intersection as PRIVATE to the pair —
    * under that regime the observed band-collision rate matches
    * p^rows within noise. A corpus where one shared set is GLOBAL
    * (every page carries the same site template) breaks it: a band
    * whose hashes happen to rank that set's minima low is hot for
    * EVERY pair at once, and the realized false-candidate rate lands
    * an order of magnitude over the expectation (the expectation is
    * still right ACROSS coefficient draws; the variance is what
    * bites). The fix is not more bands — it is removing the shared
    * text before shingling ([[graft.SparkEntry]] d8's boilerplate
    * spans), after which the measured rate returns to the model. */
  def bandingPlan(corpusSize: Long, targetSim: Double,
      backgroundSim: Double = 0.1, minRecall: Double = 0.9,
      falseCandidateBudget: Double = 10.0, maxRows: Int = 64): BandingPlan = {
    require(targetSim > backgroundSim && targetSim < 1.0 &&
      backgroundSim > 0.0, s"need 0 < background < target < 1, got " +
      s"background=$backgroundSim target=$targetSim")
    require(minRecall > 0 && minRecall < 1, s"minRecall in (0,1): $minRecall")
    var chosen: Option[BandingPlan] = None
    var r = 1
    while (chosen.isEmpty && r <= maxRows) {
      val pT = math.pow(targetSim, r)
      val bD = math.ceil(math.log1p(-minRecall) / math.log1p(-pT)).max(1.0)
      // a band count past any practical signature width means this r is
      // infeasible, not "clamp and hope": Int-clamping here once let a
      // plan through whose true recall was ~0.12 against a 0.9 ask
      // (and whose sigLen overflowed Int)
      if (bD <= (1 << 20)) {
        val b = bD.toInt
        val recall = 1 - math.pow(1 - pT, b)
        // expected unrelated-pair candidates per doc: (corpus-1) pairs,
        // each colliding with prob 1-(1-bg^r)^b ≈ b·bg^r at small bg^r
        val pBg = math.pow(backgroundSim, r)
        val falsePerDoc = (corpusSize - 1).max(0) * (1 - math.pow(1 - pBg, b))
        if (recall >= minRecall && falsePerDoc <= falseCandidateBudget)
          chosen = Some(BandingPlan(b, r, recall, falsePerDoc))
      }
      r += 1
    }
    chosen.getOrElse(throw new IllegalArgumentException(
      s"no banding with <= $maxRows rows/band meets a $falseCandidateBudget" +
        s" false-candidate budget at corpus=$corpusSize — raise the budget" +
        " or the background-similarity estimate is too close to the target"))
  }

  /** Estimated Jaccard from minhash signatures for candidate pairs. */
  def minhashJaccard(pairs: DataFrame, withSig: DataFrame, id: String): DataFrame = {
    val sigA = withSig.select(col(id).as("id_a"), col("minhash").as("__sig_a"))
    val sigB = withSig.select(col(id).as("id_b"), col("minhash").as("__sig_b"))
    pairs.join(sigA, "id_a").join(sigB, "id_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("__sig_a"), col("__sig_b"), (x, y) => x === y),
          e => e)).cast("double") / size(col("__sig_a")))
      .drop("__sig_a", "__sig_b")
  }

  /** SimHash: 64-bit signature where bit i is the sign of the sum of
    * (+1/-1) votes from each token hash's bit i. Near-dups differ in
    * few bits. Single-pass custom codegen'd expression
    * ([[graft.functions.SimHash64Expr]]). */
  def simhash(df: DataFrame, text: String, out: String = "simhash"): DataFrame =
    df.withColumn(out,
      graft.functions.SimHash64Expr(graft.functions.TokenFnv64Expr(col(text))))

  /** Hamming distance between two long signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact word-ngram Jaccard similarity between two text columns. */
  def ngramJaccard(a: Column, b: Column, k: Int): Column = {
    val sa = wordShingles(a, k)
    val sb = wordShingles(b, k)
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(array_union(sa, sb)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** Exact all-pairs Jaccard >= `minJaccard` via an inverted shingle
    * index — NOT an O(n²) self-join: shingles are computed once per doc,
    * exploded, and pairs come from an equi-join on (blockCols, shingle).
    * Intersection size is a per-pair count; |union| = |A|+|B|-|inter|.
    * For any minJaccard > 0 the result is identical to the all-pairs
    * formulation (a pair below it has no shared shingle and jac 0), so
    * the exact semantics survive while the join stays hash-partitioned
    * by shingle — the standard set-similarity-join shape that scales
    * linearly in the posting-list sizes.
    */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String, k: Int,
      minJaccard: Double, blockCols: Seq[String] = Nil): DataFrame = {
    // distinct shingle hashes in one fused pass; the join shuffles
    // 8-byte hashes, never gram strings (collision odds ~2^-64/pair)
    val shingled = df
      .select((blockCols.map(col) :+ col(id) :+
        graft.functions.ShingleHashesExpr(col(text), k).as("__g")): _*)
      .withColumn("__n", size(col("__g")))
    val posts = shingled.select(
      (blockCols.map(col) :+ col(id) :+ col("__n") :+
        explode(col("__g")).as("__gram")): _*)
    val a = posts.select(
      (blockCols.map(col) :+ col("__gram") :+ col(id).as("id_a") :+
        col("__n").as("__na")): _*)
    val b = posts.select(
      (blockCols.map(col) :+ col("__gram") :+ col(id).as("id_b") :+
        col("__n").as("__nb")): _*)
    a.join(b, blockCols :+ "__gram")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "__na", "__nb")
      .agg(count(lit(1)).as("__inter"))
      .withColumn("jac", col("__inter").cast("double") /
        (col("__na") + col("__nb") - col("__inter")))
      .filter(col("jac") >= minJaccard)
      .select("id_a", "id_b", "jac")
  }

  /** Prefix-filtered exact Jaccard pairs — the high-threshold scale
    * path of [[ngramJaccardPairs]] (identical output). The prefix
    * principle (the PPJoin family of set-similarity joins): under ANY
    * fixed total order on shingles, two sets with Jaccard ≥ t must
    * share at least one element among each set's first
    * `n - ⌈t·n⌉ + 1` elements — if A's prefix and B's prefix were
    * disjoint, the overlap is at most `min(n_A, n_B) - prefix + ...`,
    * too small to reach t. So only PREFIXES are indexed:
    *
    *  - posting volume drops from Σn to Σ(1-t)n + |docs| — at t=0.8
    *    the inverted index (and its shuffle) is ~5× smaller;
    *  - the candidate join emits only pairs colliding on a prefix
    *    hash, orders of magnitude fewer than "any shared shingle"
    *    at high t — plus the length filter (jac ≥ t ⟹
    *    t·max(n_A,n_B) ≤ min(n_A,n_B)) prunes before the distinct;
    *  - survivors are verified EXACTLY from the full shingle arrays
    *    (array_intersect), so the result set is identical to the
    *    all-postings formulation and the same cross-engine oracle
    *    applies. The total order is ascending DOCUMENT FREQUENCY
    *    (ties by hash value) — the order the PPJoin family prescribes,
    *    and it is load-bearing: under a random (hash) order a globally
    *    COMMON shingle is as likely as a rare one to land in every
    *    doc's prefix, and one boilerplate phrase shared by f docs
    *    mints f² candidates (measured 3× slower than the plain path
    *    at sf0.1). Rarest-first makes prefix collisions mean "these
    *    two docs share a RARE shingle" — near-dups and little else.
    *    The df rank costs one map-side-combinable count over the
    *    postings plus a per-doc row_number, both shuffles the plain
    *    path pays anyway in its pair-count aggregation.
    *
    * Below t≈0.3 the prefix is most of the set and
    * [[ngramJaccardPairs]]'s count-based single join is the better
    * shape — this variant exists for the 0.7-0.9 thresholds real
    * training-data dedup runs at. */
  def ngramJaccardPairsPrefix(df: DataFrame, id: String, text: String,
      k: Int, minJaccard: Double, blockCols: Seq[String] = Nil): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"prefix filtering needs 0 < t <= 1, got $minJaccard")
    val shingled = df
      .select((blockCols.map(col) :+ col(id) :+
        graft.functions.ShingleHashesExpr(col(text), k).as("__g")): _*)
      .withColumn("__n", size(col("__g")))
    val full = shingled.select(
      (blockCols.map(col) :+ col(id) :+ col("__n") :+
        explode(col("__g")).as("__gram")): _*)
    // global (per-block) document frequency of each shingle — the
    // prefix ORDER. Map-side combinable; the df table is |vocab| rows.
    val dfreq = full.groupBy((blockCols.map(col) :+ col("__gram")): _*)
      .agg(count(lit(1)).as("__df"))
    // prefix = the (n - ceil(t*n) + 1) rarest shingles per doc. The
    // 1e-9 inside ceil keeps a float product that landed a hair ABOVE
    // an exact integer t·n from shortening the prefix by one (a longer
    // prefix is always safe, a shorter one can drop a valid pair).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((blockCols.map(col) :+ col(id)): _*)
      .orderBy(col("__df"), col("__gram"))
    // every join below is MERGE-hinted: the post-explode/aggregate/
    // window size estimates here are fiction (measured: Catalyst
    // statically broadcast the df table, a whole windowed posting
    // side, AND the full shingle arrays at sf1 — 40 s of driver-side
    // broadcast builds that would OOM a real cluster). A shuffle join
    // on __gram also lets the exchange under the dfreq groupBy be
    // reused, and AQE can still downgrade to broadcast at runtime
    // when a side is MEASURED small — the safe direction.
    val posts = full.join(dfreq.hint("merge"), blockCols :+ "__gram")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <=
        (col("__n") - ceil(col("__n") * lit(minJaccard) - lit(1e-9)) + lit(1))
          .cast("int"))
      .select((blockCols.map(col) :+ col(id) :+ col("__n") :+ col("__rn") :+
        col("__gram")): _*)
    val a = posts.select(
      (blockCols.map(col) :+ col("__gram") :+ col(id).as("id_a") :+
        col("__n").as("__na") :+ col("__rn").as("__ra")): _*)
    val b = posts.select(
      (blockCols.map(col) :+ col("__gram") :+ col(id).as("id_b") :+
        col("__n").as("__nb") :+ col("__rn").as("__rb")): _*)
    // the 1e-12 slack guards the length filter's floating compare on
    // exact-boundary pairs (t*max == min): a dropped VALID pair would
    // be a correctness bug, an extra candidate just gets verified away.
    // The POSITIONAL filter is PPJoin's second prune: jac >= t needs
    // |A∩B| >= t/(1+t)·(n_a+n_b), and a pair whose colliding shingle
    // sits at rank r in a doc's df-sorted list can still share at most
    // 1 + (n - r) elements — pairs that collide only DEEP in both
    // prefixes can't reach the required overlap and drop before the
    // distinct (measured: 1.04M -> 333k candidates at sf1/t=0.7).
    val cands = a.join(b.hint("merge"), blockCols :+ "__gram")
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("__na"), col("__nb")).cast("double") >=
        greatest(col("__na"), col("__nb")) * lit(minJaccard - 1e-12))
      .filter(lit(1) +
        least(col("__na") - col("__ra"), col("__nb") - col("__rb")) >=
        ceil((col("__na") + col("__nb")) *
          lit(minJaccard / (1 + minJaccard)) - lit(1e-9)))
      .select("id_a", "id_b").distinct()
    // verify survivors exactly from the full shingle arrays — the
    // candidate set is small at high t, so shipping two arrays per
    // candidate is cheap; output is bit-identical to ngramJaccardPairs
    val ga = shingled.select(col(id).as("id_a"),
      col("__g").as("__ga"), col("__n").as("__vna"))
    val gb = shingled.select(col(id).as("id_b"),
      col("__g").as("__gb"), col("__n").as("__vnb"))
    cands.join(ga.hint("merge"), "id_a").join(gb.hint("merge"), "id_b")
      .withColumn("__inter",
        size(array_intersect(col("__ga"), col("__gb"))))
      .withColumn("jac", col("__inter").cast("double") /
        (col("__vna") + col("__vnb") - col("__inter")))
      .filter(col("jac") >= minJaccard)
      .select("id_a", "id_b", "jac")
  }

  /** Winnowing fingerprints per doc: normalized text → char-k-gram
    * rolling hashes → window minima ([[graft.functions.WinnowExpr]]).
    * Detects PARTIAL overlap: any shared run of ≥ window+k-1 chars
    * shares a fingerprint. */
  def winnow(df: DataFrame, text: String, k: Int = 5, window: Int = 8,
      out: String = "fingerprints"): DataFrame =
    df.withColumn(out, graft.functions.WinnowExpr(
      graft.functions.NormalizeTextExpr(col(text)), k, window))

  /** Containment candidates from shared winnowing fingerprints: pairs
    * sharing ≥ `minShared` fingerprints, with the shared count — an
    * inverted-index equi-join on the fingerprint (same scale shape as
    * [[ngramJaccardPairs]]). */
  def winnowPairs(df: DataFrame, id: String, text: String,
      minShared: Int = 2, k: Int = 5, window: Int = 8): DataFrame = {
    val fps = winnow(df, text, k, window)
      .select(col(id), explode(col("fingerprints")).as("__fp"))
    val a = fps.select(col(id).as("id_a"), col("__fp"))
    val b = fps.select(col(id).as("id_b"), col("__fp"))
    a.join(b, "__fp").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Connected components over an undirected candidate-pair graph —
    * the dedup ENDGAME. Pair detection ([[lshCandidates]],
    * [[ngramJaccardPairs]], [[winnowPairs]], [[simhashPairs]]) emits
    * edges; near-duplication is transitive in practice (A≈B≈C usually
    * means one underlying document), so curation keeps ONE canonical
    * survivor per component, not one per pair. Returns `(id,
    * cluster_id)` where `cluster_id` is the component's minimum id —
    * deterministic, so the canonical choice is reproducible and
    * oracle-checkable.
    *
    * Algorithm: min-label propagation with pointer-jumping. Each round
    *  1. relax — `label(v) ← min(label(v), min over neighbors u of
    *     label(u))`: one hash equi-join edges⋈labels + a map-side-
    *     combinable min aggregation;
    *  2. compress — `label(v) ← label(label(v))`: a self-join on the
    *     label mapping, which short-circuits chains so convergence is
    *     O(log diameter) rounds rather than O(diameter) (the hashing
    *     trick behind the large-star/small-star CC algorithms).
    * Every step is shuffle-partitioned by key — O(|V|+|E|) per round,
    * no driver-side graph state; each round materializes its label
    * table (localCheckpoint + the convergence count) so BOTH the
    * execution lineage and the logical plan stay flat across
    * iterations — see the in-loop comment for why persist is not
    * enough. Dup graphs are overwhelmingly tiny cliques, so rounds
    * ≈ 2-3 in practice; `maxIter` is a loud safety net. */
  def connectedComponents(vertices: DataFrame, id: String,
      edges: DataFrame, src: String = "id_a", dst: String = "id_b",
      maxIter: Int = 25,
      onRound: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    // localCheckpoint (not persist): materializes the edge set AND
    // truncates its logical plan. With persist, every round's cached
    // plan nests the full upstream candidate-generation pipeline; when
    // that pipeline carries big literals (d9's 56×64-double LSH
    // planes), AQE's per-update explainString turns into minutes of
    // driver CPU. Checkpointed blocks free on GC (ContextCleaner);
    // a cluster deployment that must survive executor loss would use
    // reliable checkpoint() instead — same plan-truncation effect.
    val und = edges.select(col(src).as("__u"), col(dst).as("__v"))
      .union(edges.select(col(dst).as("__u"), col(src).as("__v")))
      .distinct().localCheckpoint()
    var labels = vertices.select(col(id).as("__id"), col(id).as("__lbl"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = und.join(labels, und("__v") === labels("__id"))
        .groupBy(col("__u")).agg(min("__lbl").as("__nbl"))
      val relaxed = labels.join(nbrMin, labels("__id") === nbrMin("__u"), "left")
        .select(col("__id"), col("__lbl").as("__old"),
          least(col("__lbl"), coalesce(col("__nbl"), col("__lbl"))).as("__rlx"))
      // compress: labels always point at some vertex's current label,
      // so the self-join resolves one extra hop per round
      val lmap = relaxed.select(col("__id").as("__k"), col("__rlx").as("__m"))
      // localCheckpoint each round (not persist): `relaxed` appears
      // TWICE in this plan (data + compress self-join), so a cached
      // plan would nest the previous round's plan twice — plan-string
      // rendering (AQE logs every adaptive update) then grows
      // 2^rounds. A checkpointed round is a flat LogicalRDD: O(1)
      // plan per round, previous rounds' blocks free on GC.
      val next = relaxed.join(lmap, relaxed("__rlx") === lmap("__k"), "left")
        .select(col("__id"), col("__old"),
          coalesce(col("__m"), col("__rlx")).as("__lbl"))
        .localCheckpoint()
      changed = next.filter(col("__lbl") =!= col("__old")).count()
      labels = next.select("__id", "__lbl")
      iter += 1
      onRound(iter, changed)
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "the graph has a structure (or scale) this config did not expect")
    labels.select(col("__id").as(id), col("__lbl").as("cluster_id"))
  }

  /** Segment-level (paragraph) dedup, CCNet-style: split each document
    * into consecutive `w`-word segments, keep only the corpus-FIRST
    * occurrence (minimal (doc, seg) coordinate) of each distinct
    * segment, and reassemble the survivors per document. In production
    * corpora the split unit is the newline paragraph; this corpus is
    * newline-free, so the splitter is a fixed word window — the dedup
    * mechanics (corpus-wide ownership by content key, first-occurrence
    * tie-break, in-order reassembly) are identical and that is the
    * engine part.
    *
    * Scale shape, in shuffle order:
    *  1. segmentation is per-row array arithmetic — zero shuffle;
    *  2. ownership groups a SLIM projection keyed by
    *     (xxhash64(segment), fnv1a64(segment), length) — the wide
    *     shuffle moves three longs + two coordinates per segment,
    *     never the text. The two hashes are independent (different
    *     algorithms), so a silent segment drop needs a simultaneous
    *     128-bit collision between equal-length segments —
    *     birthday-implausible even at a 10^10-segment corpus, where
    *     a single 64-bit key would already see collisions;
    *  3. only the DROP list (dup coordinates — dup-rate × corpus,
    *     two longs each) flows back as a keep FLAG (left join, AQE
    *     broadcasts it at realistic dup rates), so counting and
    *     reassembly share one aggregate over one pass;
    *  4. the one unavoidable text shuffle is reassembly groupBy(doc)
    *     — inherent to re-gluing a document. Net: two corpus scans
    *     (ownership, reassembly), text shuffled exactly once.
    * Output keeps every non-empty document: `n_segs`, `n_kept`
    * (0 when everything was someone else's copy), `text_dedup`. */
  def segmentDedup(df: DataFrame, id: String, text: String,
      w: Int = 8): DataFrame = {
    val words = filter(split(col(text), "\\s+"), x => length(x) > 0)
    val seged = df
      .select(col(id), words.as("__w"))
      .filter(size(col("__w")) > 0)
      .select(col(id), posexplode(transform(
        sequence(lit(0), floor((size(col("__w")) - 1) / lit(w)).cast("int")),
        i => array_join(slice(col("__w"), i * w + 1, lit(w)), " "))))
      .toDF(id, "seg", "s")
    val slim = seged.select(col(id), col("seg"),
      xxhash64(col("s")).as("__h"),
      graft.functions.Fnv1a64Expr(col("s")).as("__h2"),
      length(col("s")).as("__l"))
    // one pass over the slim projection: the min-(doc, seg) owner per
    // content key via a window, so the ownership branch costs a single
    // scan + one slim exchange (vs groupBy + self-join = two scans)
    val drops = slim.withColumn("__first",
        min(struct(col(id), col("seg"))).over(
          Window.partitionBy(col("__h"), col("__h2"), col("__l"))))
      .filter(col(id) =!= col("__first").getField(id) ||
        col("seg") =!= col("__first").getField("seg"))
      .select(col(id), col("seg"), lit(true).as("__drop"))
    seged.join(drops, Seq(id, "seg"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_segs"),
        count(when(col("__drop").isNull, 1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("__drop").isNull, struct(col("seg"), col("s"))))),
          x => x.getField("s")), " ").as("text_dedup"))
  }

  /** SimHash near-dup candidate pairs within `maxDist` Hamming bits:
    * pigeonhole banding — split the 64-bit signature into `maxDist+1`
    * chunks; any pair within maxDist bits agrees exactly on at least one
    * chunk, so candidates come from an equi-join on (chunk index, chunk
    * value) and only candidates pay the exact Hamming check. */
  def simhashPairs(withSim: DataFrame, id: String, sim: String,
      maxDist: Int): DataFrame = {
    val chunks = maxDist + 1
    val bits = 64 / chunks
    val chunkCols = (0 until chunks).map(c =>
      shiftrightunsigned(col(sim), c * bits)
        .bitwiseAND(lit((1L << bits) - 1)))
    val banded = withSim
      .select(col(id), col(sim), posexplode(array(chunkCols: _*)))
      .toDF(id, sim, "chunk", "cval")
    val a = banded.select(col(id).as("id_a"), col(sim).as("__sa"),
      col("chunk"), col("cval"))
    val b = banded.select(col(id).as("id_b"), col(sim).as("__sb"),
      col("chunk"), col("cval"))
    a.join(b, Seq("chunk", "cval"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming64(col("__sa"), col("__sb")))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }
}
