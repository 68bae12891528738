package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.PortableHash

/** Document deduplication operators for large-scale training-data
  * pipelines (extension beyond the reference — SURVEY §7.2.8).
  *
  * Scale design (100 TB corpus):
  *   - exact dedup: one shuffle keyed by content hash with map-side
  *     partial aggregation; never materializes full texts on one node.
  *   - MinHash+LSH: per-row signature computation (narrow), then a
  *     shuffle keyed by (band, bandSignature) whose fan-in is bounded by
  *     bucket size; candidate verification touches only bucket pairs,
  *     never the n² cross product.
  *   - SimHash: per-row 60-bit fingerprint (narrow); near-dup blocking
  *     by 15-bit chunk equality (pigeonhole: hamming<=3 pairs must share
  *     a chunk), so the join is again bucket-bounded.
  *
  * All hashing is [[PortableHash.hash60]] (md5-based) so every step has
  * an exact DuckDB oracle.
  */
object TextDedup {

  /** The DEDUP tokenizer: `lower` + split on `[^a-z0-9]+`, no empties —
    * the shingling contract every dedup oracle replicates in DuckDB SQL
    * and [[graft.expressions.MinHashKernel.tokens]] mirrors natively.
    * Deliberately NOT [[Fts.tokens]]: FTS carries SQLite's unicode61
    * fidelity ([[graft.functions.Unicode61]]); shingle identity is an
    * engine design choice that only needs to be deterministic and
    * oracle-replicable.
    */
  def tokensCol(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  /** w-word shingles as space-joined strings. Documents with fewer than
    * `w` tokens produce one shingle = the whole token list.
    */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = tokensCol(text)
    when(size(toks) >= w,
      transform(sequence(lit(0), size(toks) - w),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(w)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Exact dedup: keep the lowest id per identical text. Grouping is on
    * the 60-bit content hash + the text itself (hash only would risk
    * collisions; including text keeps correctness while the hash gives
    * the shuffle a well-distributed key).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(PortableHash.hash60(col(textCol)).as("content_hash"), col(textCol))
      .agg(min(col(idCol)).cast(LongType).as("keep_id"),
        count(lit(1)).cast(LongType).as("n_copies"))
      .select(col("keep_id"), col("content_hash"), col("n_copies"))

  /** Incremental exact dedup for append-only corpus growth: dedup a NEW
    * batch against itself (keep min id per text) and drop anything whose
    * content hash already exists in the `existing` keeper table — the
    * batch twin of [[graft.streaming.StreamDedup]]'s stateful stream.
    *
    * `existing` needs only a `content_hash` column (the compact state a
    * pipeline persists between runs — 8 bytes per distinct doc, same key
    * the streaming dedup stores). One shuffle for the self-dedup plus a
    * hash-keyed LEFT ANTI join; at 100 TB both are single keyed
    * exchanges with map-side partial aggregation.
    */
  def exactIncremental(
      newDocs: DataFrame, idCol: String, textCol: String,
      existing: DataFrame): DataFrame =
    exact(newDocs, idCol, textCol)
      .join(existing.select(col("content_hash")), Seq("content_hash"), "left_anti")
      .select(col("keep_id"), col("content_hash"), col("n_copies"))

  /** Distinct 60-bit shingle hashes — the working representation for
    * MinHash and Jaccard (set semantics on hashes instead of strings:
    * one md5 per shingle, integer ops afterwards; collision probability
    * at 60 bits is negligible for any real corpus).
    *
    * Native single-pass expression ([[graft.expressions.ShingleHash60]]);
    * the HOF spelling ([[shingleHashesHof]]) is CodegenFallback —
    * interpreted per element with a compile-heavy expression tree.
    */
  def shingleHashes(text: Column, w: Int = 3): Column =
    graft.expressions.ShingleHash60.shingle_hash60(text, w)

  /** The Column-function spelling of [[shingleHashes]], kept as the
    * parity reference the spec pins the native expression against.
    */
  private[graft] def shingleHashesHof(text: Column, w: Int = 3): Column =
    array_distinct(transform(shingles(text, w), sh => PortableHash.hash60(sh)))

  /** MinHash signature from a materialized shingle-hash array:
    * `numPerms` affine transforms of the SAME base hash
    * ([[PortableHash.affine]]) — the md5 cost is O(shingles), the
    * signature cost is O(shingles * perms) integer ops. Native
    * expression; [[minhashSignatureFromHashesHof]] is the parity twin.
    */
  def minhashSignatureFromHashes(hashes: Column, numPerms: Int = 16): Column =
    graft.expressions.MinHashSig.minhash_sig(hashes, numPerms)

  private[graft] def minhashSignatureFromHashesHof(hashes: Column, numPerms: Int = 16): Column =
    transform(sequence(lit(0), lit(numPerms - 1)),
      s => array_min(transform(hashes, h =>
        ((h % PortableHash.P) * (lit(2L) * s + 1L) + (lit(12345L) * s + 677L)) % PortableHash.P)))

  /** Convenience: signature straight from text (materialize the hash
    * array behind a projection boundary when calling this per-row on a
    * wide pipeline — see the queries layer).
    */
  def minhashSignature(text: Column, numPerms: Int = 16, w: Int = 3): Column =
    minhashSignatureFromHashes(shingleHashes(text, w), numPerms)

  /** LSH band keys: bands of `r` signature rows combined into one
    * integer key `mh[rb] * 2000000011 + ... ` (members < P so the
    * packing is collision-free, no extra hashing needed).
    */
  def lshBands(sig: Column, numPerms: Int, r: Int = 2): Column = {
    require(numPerms % r == 0, "numPerms must divide into bands of r")
    transform(sequence(lit(0), lit(numPerms / r - 1)),
      b => struct(b.as("band"),
        aggregate(slice(sig, b * lit(r) + lit(1), lit(r)), lit(0L),
          (acc, x) => acc * lit(2000000011L) + x).as("sig")))
  }

  /** All unordered member pairs (a.id < b.id) of each LSH bucket.
    * Buckets are built with ONE aggregation (no self-join: the upstream
    * signature pipeline is computed once), and pair expansion is an
    * array comprehension per bucket — cost sum(bucketSize²), never n².
    */
  private def bucketPairs(members: Column): Column =
    filter(
      flatten(transform(members, a =>
        transform(members, b =>
          when(a < b, struct(a.as("id_a"), b.as("id_b")))))),
      p => p.isNotNull)

  /** Pair expansion with a per-bucket size cap (skew guard). Buckets at
    * or under `cap` expand to ALL member pairs — byte-identical to the
    * uncapped behavior, so normal corpora are unaffected. An oversized
    * bucket (degenerate corpus: thousands of identical documents landing
    * in one LSH bucket) would otherwise emit |bucket|² pairs in a single
    * task; instead its sorted member list is split into ceil(n/cap)
    * slices with full expansion within each slice plus one chain link
    * between consecutive slice heads — O(n·cap) pairs, and every member
    * still reaches the bucket's first member (slice pairs + chain), so
    * dedup clustering connectivity is preserved. The recall trade
    * (cross-slice pairs beyond the chain are not emitted) applies only
    * past the cap; corpora with massive EXACT duplication should be
    * pre-collapsed with [[exact]] first.
    */
  /** Native variant for LONG member arrays (minhash / embedding
    * buckets) — same pair set, one JIT'd pass
    * ([[graft.expressions.CappedLongPairs]]); [[cappedBucketPairs]]
    * remains for struct-typed members (simhash) and as the parity
    * reference.
    */
  private[graft] def cappedBucketPairsLong(sortedMembers: Column, cap: Int): Column =
    graft.expressions.CappedLongPairs.capped_pairs(sortedMembers, cap)

  /** Bucket membership as BOUNDED member arrays: rows `(keys..., id)`
    * become `(keys..., __grp, members)` where each `members` array
    * holds a contiguous run (in ascending-id order) of at most
    * `groupSize` bucket members. The giant-cluster guard for the
    * `collect_list` build step: without it, one degenerate bucket
    * (millions of identical documents in one LSH band) puts an
    * O(|bucket|) array in a SINGLE unspillable row — at 100 TB that is
    * a multi-GB row and an executor OOM. The window rank spills to
    * disk per partition instead, so no single row ever exceeds
    * `groupSize` longs.
    */
  private[graft] def boundedMembers(
      rows: DataFrame, keyCols: Seq[String], groupSize: Int,
      lowCardKeys: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = keyCols.map(col)
    val ranked =
      if (lowCardKeys)
        // LOW-CARDINALITY keys (label / k-means cluster blocking): the
        // per-key window below would serialize ~N/k corpus rows onto
        // ONE task's sort — the protoPrune-class scale killer
        // graft.plans.PlanGuard flags. Rank via the range-decomposed
        // Shuffle.groupedRank instead; its broadcast-sized-key-set
        // contract is exactly this case. materializeInput=false: every
        // caller passes a narrow projection of an already-materialized
        // frame.
        Shuffle.groupedRank(rows, keyCols, Seq("id"), "__rk",
          materializeInput = false)
      else
        // HIGH-cardinality keys (LSH bands, shingle hashes, winnow
        // fingerprints): a partitioned window is already scale-safe —
        // WindowExec sorts and spills per partition, and groupedRank's
        // broadcast offsets table would be key-set-sized (unbounded).
        rows.withColumn("__rk",
          row_number().over(Window.partitionBy(keys: _*).orderBy(col("id")))
            .cast(LongType))
    ranked
      .withColumn("__grp", expr(s"(__rk - 1) div $groupSize"))
      .drop("__rk")
      .groupBy(keys :+ col("__grp"): _*)
      // rows reach the agg already id-sorted on the window path (the
      // groupBy reuses the window's hash partitioning, keys ⊆ keys+grp,
      // so no reshuffle) — but collect_list order is not contractual
      // (and the groupedRank path arrives range-partitioned), so sort
      // explicitly: O(groupSize log groupSize) on a bounded array.
      .agg(array_sort(collect_list(col("id"))).as("members"))
  }

  /** Candidate pairs from bucket membership with bounded rows: the
    * shared build step behind minhash / simhash / embedding-cluster
    * blocking. Emits EXACTLY the pair multiset of the reference
    * spelling `groupBy(keys).agg(collect_list(id))` →
    * [[cappedBucketPairsLong]]`(array_sort(members), cap)`, but no row
    * ever holds more than `cap * slicesPerGroup` member ids:
    * [[boundedMembers]] splits each bucket's sorted id run into groups
    * of that size (a multiple of `cap`, so the global cap-slice
    * boundaries are preserved inside every group), within-group pairs
    * come from the same capped kernel, and the missing chain links
    * between the last slice head of one group and the head of the next
    * come from a `lead()` over the group rows, on the keys partitioning
    * the membership build already established. The window is
    * group-grain (one row per `cap * slicesPerGroup` members), so its
    * sort stays bounded. With `lowCardKeys`, where a keys-partitioned
    * window is the shape PlanGuard flags, the links come instead from
    * an equi-self-join of the group-heads table on
    * `__grp = __grp + 1`: `__grp` is contiguous per key by construction
    * (rank div groupSize), so that join IS the lead(). Slice-chain
    * connectivity holds across group boundaries and dedup clustering
    * is unaffected.
    */
  private[graft] def bucketedPairs(
      rows: DataFrame, keyCols: Seq[String], cap: Int,
      slicesPerGroup: Int = 256, lowCardKeys: Boolean = false): DataFrame = {
    val keys = keyCols.map(col)
    val groups0 = boundedMembers(rows, keyCols, cap * slicesPerGroup, lowCardKeys)
    // Head of a group's LAST cap-slice (1-based): slice index
    // floor((n-1)/cap), head at local rank slice*cap.
    val lastSliceHead = element_at(col("members"),
      (floor((size(col("members")) - 1) / lit(cap)) * cap + 1).cast(IntegerType))
    if (!lowCardKeys) {
      // ONE consumer of the membership build (r19, guide §2.4): the
      // cross-group chain link rides a lead() window on the SAME keys
      // partitioning the membership groupBy just established (no new
      // exchange — a handful of group rows per key), and within-pairs
      // + links leave through one Generate. The former heads⋈nexts
      // self-join spelling had THREE consumers of the lazy groups
      // subtree; AQE reuses only the map-side shuffle stage, so the
      // reduce-side sort + window + collect aggregation executed once
      // per consumer at every call site (measured in the r19 plan
      // dumps: the band window subtree appeared 3x per pair build).
      // Group-grain, not corpus-grain: rows here are one per
      // cap·slicesPerGroup members, so the window's sort is bounded.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys: _*).orderBy(col("__grp"))
      groups0
        .withColumn("__next", lead(element_at(col("members"), 1), 1).over(w))
        .select(explode(concat(
          cappedBucketPairsLong(col("members"), cap),
          filter(array(struct(lastSliceHead.as("id_a"), col("__next").as("id_b"))),
            _ => col("__next").isNotNull))).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
    } else {
      // lowCard path: the membership build is a multi-stage groupedRank
      // subtree (checkpointed once), and a keys-partitioned window here
      // would be the low-cardinality-key shape PlanGuard exists to flag
      // — keep the flat heads⋈nexts join spelling over the materialized
      // groups (cheap checkpoint scans, no window).
      val groups = groups0.localCheckpoint(true)
      val within = groups
        .filter(size(col("members")) > 1)
        .select(explode(cappedBucketPairsLong(col("members"), cap)).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      val heads = groups
        .select(keys :+ col("__grp") :+
          element_at(col("members"), 1).as("__head") :+
          lastSliceHead.as("__last"): _*)
      val nexts = heads
        .select(keys :+ (col("__grp") - 1).as("__grp") :+
          col("__head").as("__next"): _*)
      val links = heads.join(nexts, keyCols :+ "__grp")
        .select(col("__last").as("id_a"), col("__next").as("id_b"))
      within.unionByName(links)
    }
  }

  private[graft] def cappedBucketPairs(sortedMembers: Column, cap: Int): Column = {
    val nSlices = ceil(size(sortedMembers).cast(DoubleType) / cap).cast(IntegerType)
    val within = flatten(transform(sequence(lit(0), nSlices - 1),
      i => bucketPairs(slice(sortedMembers, i * cap + 1, lit(cap)))))
    val chain = filter(
      transform(sequence(lit(0), nSlices - 1), i =>
        when(i < nSlices - 1,
          struct(element_at(sortedMembers, i * cap + 1).as("id_a"),
                 element_at(sortedMembers, (i + 1) * cap + 1).as("id_b")))),
      p => p.isNotNull)
    concat(within, chain)
  }

  /** Identical-set pre-collapse for the approximate-pair family — the
    * [[graft.operators.SetJoin.collapsedPrefixBuildFromSets]] idiom
    * applied to LSH/simhash candidates: `(id, sset)` rows collapse to
    * one REPRESENTATIVE (min id) per distinct sorted set, so
    * signatures, band keys, and Jaccard verification run once per
    * distinct CONTENT instead of once per copy. On the skew corpus's
    * 2500-copy boilerplate cluster that is the difference between 3M
    * capped candidate verifications and a handful (measured 8-10x on
    * the whole minhash dedup family). Returns `(members(rid, id),
    * reps(id, sset))` — reps' sset is the SORTED canonical array
    * (order-invariant for minhash and Jaccard). The rid aggregate is
    * map-side combined; a million-copy group combines per input
    * partition before the shuffle.
    *
    * Shuffle economics (r18 polish: the original spelling grouped and
    * join-backed on the FULL sorted array — measured ~1.6-1.9x
    * overhead on uniform corpora where nothing collapses): grouping
    * and the members join-back ride a 128-bit content fingerprint
    * (two independent xxhash64 lanes over the canonical array), 24
    * bytes/row on the wire instead of the whole shingle set; the rep
    * rows come back via a left-semi join on the UNIQUE id (skew-immune
    * — identical contents share a fingerprint but never an id), so the
    * arrays cross the wire exactly once. False-merge bound: two
    * DISTINCT contents collide only if both 64-bit lanes collide,
    * p <= n^2 / 2^129 — at 10^11 documents that is ~1.5e-17, below
    * hardware corruption rates (and any such event is oracle-visible:
    * the DuckDB replay groups on the actual set).
    */
  private[graft] def collapseIdenticalSets(
      sets: DataFrame): (DataFrame, DataFrame) = {
    val (members, reps, _) = collapseIdenticalSetsTagged(sets)
    (members, reps)
  }

  /** [[collapseIdenticalSets]] that also reports WHETHER anything
    * collapsed. On the identity path `members` is the trivial
    * (id, id) mapping and [[identityStarPairs]] over it is EMPTY —
    * callers use the flag to skip the star-pair union / member
    * re-expansion joins outright instead of executing stages that
    * provably produce zero rows (r18: 2-8 exchanges per query on
    * uniform corpora).
    */
  private[graft] def collapseIdenticalSetsTagged(
      sets: DataFrame): (DataFrame, DataFrame, Boolean) = {
    // CONTRACT: `sets` must already be materialized (localCheckpoint /
    // cache / table scan) — every caller does; the canon projection
    // (sort + two hashes) is narrow per-row CPU over it, recomputed
    // per consumer instead of eagerly materializing a second copy of
    // every array (r18 polish: the collapse used to take two eager
    // checkpoints per call, pure overhead when nothing collapses).
    val canon = collapseCanon(sets)
    // Adaptive fast path: when every content is distinct (the uniform
    // corpus — the common case), the collapse is the identity, and the
    // group + two join-backs below would be pure overhead. ONE
    // aggregation job decides (bounded collect: two longs) — the r18.0
    // spelling materialized the grouped rid table eagerly and ran two
    // separate count jobs just to make this decision; the rid table is
    // only needed on the slow path, so build it there.
    val counts = canon.agg(count(lit(1)),
      count_distinct(col("__h1"), col("__h2"))).head()
    if (counts.getLong(0) == counts.getLong(1)) {
      (sets.select(col("id").as("rid"), col("id")),
        sets.select(col("id"), array_sort(col("sset")).as("sset")), false)
    } else {
      // Slow path: materialize canon ONCE (r18 ADVICE — the previous
      // spelling recomputed the sort + two hashes per consumer, and the
      // rid group, members join and reps semi-join make three). The
      // copy costs one materialization of the arrays, exactly what the
      // pre-fingerprint spelling paid; the identity path stays
      // materialization-free.
      val canonCp = canon.localCheckpoint(true)
      val rids = canonCp.groupBy(col("__h1"), col("__h2"))
        .agg(min(col("id")).as("rid"))
        .localCheckpoint(true) // 24B/row; feeds members + reps
      val members = canonCp.select(col("id"), col("__h1"), col("__h2"))
        .join(rids, Seq("__h1", "__h2")).select(col("rid"), col("id"))
      val reps = canonCp
        .join(rids.select(col("rid").as("id")), Seq("id"), "left_semi")
        .select(col("id"), col("sset0").as("sset"))
      (members, reps, true)
    }
  }

  /** The collapse's canonicalization: sorted array + the two 64-bit
    * fingerprint lanes. ONE definition, shared by the operator's
    * decision aggregation and its collapsed path (r18 stage budget in
    * OPTIMIZATION_r18.md).
    */
  private def collapseCanon(sets: DataFrame): DataFrame =
    sets.select(col("id"), array_sort(col("sset")).as("sset0"))
      .withColumn("__h1", xxhash64(col("sset0")))
      .withColumn("__h2", xxhash64(lit("lane2"), col("sset0")))

  /** Identity STAR pairs of a collapse: (rid, member) for every
    * non-representative member — |group|-1 flat rows per group,
    * diameter-2 connectivity, no window, no array. The scalable
    * within-group emission (all C(g,2) pairs of a million-copy group
    * are output-quadratic; connectivity is what cluster consumers
    * need, and same-content similarity is 1 by definition).
    */
  private[graft] def identityStarPairs(members: DataFrame): DataFrame =
    members.filter(col("id") =!= col("rid"))
      .select(col("rid").as("id_a"), col("id").as("id_b"))

  /** Candidate pairs sharing >= 1 LSH band, verified with exact Jaccard
    * over distinct shingle-hash sets. Returns (id_a, id_b, jaccard) with
    * id_a < id_b, one row per pair.
    *
    * Emission contract (since the skew round): pairs of DISTINCT
    * contents come from capped band buckets over the identical-set
    * REPRESENTATIVES, verified rep-to-rep (identical to any member
    * pair's Jaccard); same-content copies contribute their identity
    * STAR pairs (jaccard = 1.0) instead of capped member pairs. The
    * pair set is connectivity-equivalent for cluster consumers and
    * no longer grows with copy counts.
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 16, r: Int = 2, w: Int = 3,
      jaccardThreshold: Double = 0.5,
      maxBucket: Int = 256): DataFrame = {
    // The sets table feeds three consumers (band build + two
    // verification joins); materialize once (eager local checkpoint) so
    // the md5 shingle pipeline runs once. Checkpoint, not persist: the
    // blocks are freed by the ContextCleaner when the returned plan is
    // dropped, instead of leaking a cache entry per call.
    val sets = df.select(
      col(idCol).cast(LongType).as("id"),
      shingleHashes(col(textCol), w).as("sset"))
      .localCheckpoint(true)
    minhashPairsFromSets(sets, numPerms, r, jaccardThreshold, maxBucket)
  }

  /** [[minhashPairs]] over a PRE-MATERIALIZED `(id LONG, sset
    * ARRAY<LONG>)` shingle-set frame — lets recall-audit callers share
    * ONE shingle materialization between the exact
    * ([[SetJoin.ppjoinPairsFromSets]]) and approximate pipelines
    * instead of tokenizing + hashing the corpus once per pipeline.
    * `sets` must already be materialized (localCheckpoint / cache):
    * it feeds the band build and both verification joins.
    */
  def minhashPairsFromSets(
      sets: DataFrame, numPerms: Int = 16, r: Int = 2,
      jaccardThreshold: Double = 0.5,
      maxBucket: Int = 256): DataFrame =
    minhashPairsFromCollapse(collapseIdenticalSetsTagged(sets),
      numPerms, r, jaccardThreshold, maxBucket)

  /** [[minhashPairsFromSets]] over an ALREADY-DECIDED identical-set
    * collapse — lets a caller that also runs the exact pipeline
    * ([[graft.queries.DedupQueries.lshRecall]]) pay the collapse
    * decision once instead of once per pipeline.
    */
  private[graft] def minhashPairsFromCollapse(
      collapse: (DataFrame, DataFrame, Boolean),
      numPerms: Int, r: Int,
      jaccardThreshold: Double, maxBucket: Int): DataFrame = {
    val (members, reps, collapsed) = collapse
    val withSig = reps.withColumn("sig", minhashSignatureFromHashes(col("sset"), numPerms))
    val bands = withSig.select(col("id"),
      explode(lshBands(col("sig"), numPerms, r)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.sig").as("bsig"))
    val cand = bucketedPairs(bands, Seq("band", "bsig"), maxBucket)
      .dropDuplicates("id_a", "id_b")
    val repPairs = cand
      .join(reps.select(col("id").as("id_a"), col("sset").as("sh_a")), Seq("id_a"))
      .join(reps.select(col("id").as("id_b"), col("sset").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast(DoubleType) - col("inter"))
      .withColumn("jaccard", round(col("inter") / col("uni"), 6))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    // identity star pairs are EMPTY when nothing collapsed — skip the
    // union (and its scan of the sets checkpoint) instead of executing it
    if (!collapsed) repPairs
    else repPairs.unionByName(
      identityStarPairs(members).withColumn("jaccard", lit(1.0)))
  }

  /** b-bit minhash Jaccard estimation (Li & König, "b-Bit Minwise
    * Hashing", WWW 2010, b = 1): keep only the LOWEST BIT of each of
    * `bitPerms` permutation minima, packed into ONE BIGINT per
    * document — a 64× narrower signature than the full minima array,
    * which at 100 TB is the difference between a signature table that
    * fits in memory-speed storage and one that doesn't. The estimator
    * corrects the coin-flip floor: agreeing bits match with probability
    * `(1+J)/2`, so `Ĵ = 2·(match/k) − 1`, clamped at 0 — in exact ppm
    * integers here.
    *
    * The readout pairs the estimate with the exact set Jaccard per
    * LSH-candidate pair (the number that decides whether 1-bit
    * signatures can replace exact verification at a given threshold).
    * Candidates come from the standard band bucketing ([[bucketedPairs]]
    * on `bandPerms` minima, r=`r`) — identical shape to
    * [[minhashPairsFromSets]]; the bit signature adds ONE narrow
    * kernel call + a 60-element fold per document.
    *
    * Output: `(id_a, id_b, match_bits, j_bbit_ppm, j_exact_ppm,
    * err_ppm)`.
    */
  def bbitJaccardPairs(
      sets: DataFrame, bandPerms: Int = 16, bitPerms: Int = 60,
      r: Int = 2, maxBucket: Int = 256): DataFrame = {
    require(bitPerms >= 1 && bitPerms <= 62, "bit perms must pack into a positive BIGINT")
    // estimator-quality readout: identical contents carry zero
    // information (err = 0 by construction), so candidates run over the
    // identical-set representatives only — same collapse as
    // [[minhashPairsFromSets]], no identity rows emitted
    val (_, reps) = collapseIdenticalSets(sets)
    val prepared = reps
      .withColumn("sig", minhashSignatureFromHashes(col("sset"), bandPerms))
      .withColumn("__sigb", minhashSignatureFromHashes(col("sset"), bitPerms))
      .withColumn("sigbits", expr(
        "aggregate(transform(__sigb, (m, j) -> shiftleft(m & CAST(1 AS BIGINT), j)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
    val bands = prepared.select(col("id"),
      explode(lshBands(col("sig"), bandPerms, r)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.sig").as("bsig"))
    val cand = bucketedPairs(bands, Seq("band", "bsig"), maxBucket)
      .dropDuplicates("id_a", "id_b")
    cand
      .join(prepared.select(col("id").as("id_a"), col("sset").as("sh_a"),
        col("sigbits").as("bits_a")), Seq("id_a"))
      .join(prepared.select(col("id").as("id_b"), col("sset").as("sh_b"),
        col("sigbits").as("bits_b")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast(LongType) - col("inter"))
      .withColumn("match_bits",
        lit(bitPerms.toLong) - bit_count(col("bits_a").bitwiseXOR(col("bits_b")))
          .cast(LongType))
      .select(col("id_a"), col("id_b"), col("match_bits"),
        greatest(expr(s"(2000000 * match_bits) div $bitPerms - 1000000"),
          lit(0L)).as("j_bbit_ppm"),
        expr("(1000000 * inter) div uni").as("j_exact_ppm"))
      .withColumn("err_ppm", abs(col("j_bbit_ppm") - col("j_exact_ppm")))
  }

  /** Incremental near-dup pairs: candidates between a NEW batch and an
    * EXISTING corpus only (batch-internal pairs come from
    * [[minhashPairs]] on the batch; existing-internal pairs were
    * resolved in prior runs). Band keys of the batch hash-join band keys
    * of the existing corpus; survivors verify with exact Jaccard.
    *
    * Scale shape: ONE hash join keyed by (band, bandSignature) — fan-out
    * bounded by band-bucket collisions, never |batch|×|corpus|. At 100
    * TB the existing side's band table is the persisted LSH index a
    * pipeline maintains between runs (here derived on the fly); corpora
    * with massive exact duplication should pre-collapse with
    * [[exactIncremental]] first, which also bounds hot buckets.
    */
  def minhashPairsIncremental(
      newDocs: DataFrame, existing: DataFrame,
      idCol: String, textCol: String,
      numPerms: Int = 16, r: Int = 2, w: Int = 3,
      jaccardThreshold: Double = 0.5): DataFrame =
    minhashPairsAgainstIndex(newDocs,
      lshIndex(existing, idCol, textCol, numPerms, r, w),
      idCol, textCol, numPerms, r, w, jaccardThreshold)

  /** The persistable LSH index of a corpus: one row per (doc, band)
    * with the band key and the doc's distinct shingle-hash set — the
    * state a pipeline writes to parquet after each run and reloads for
    * the next batch's [[minhashPairsAgainstIndex]], instead of
    * re-hashing the whole history. Partition the parquet by `band` for
    * band-pruned loads.
    */
  def lshIndex(
      df: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 16, r: Int = 2, w: Int = 3): DataFrame =
    df.select(col(idCol).cast(LongType).as("id"),
        shingleHashes(col(textCol), w).as("sset"))
      .withColumn("sig", minhashSignatureFromHashes(col("sset"), numPerms))
      .select(col("id"), col("sset"),
        explode(lshBands(col("sig"), numPerms, r)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.sig").as("bsig"),
        col("sset"))

  /** Near-dup pairs of a new batch against an EXISTING index (from
    * [[lshIndex]], typically parquet-loaded): band-key hash join for
    * candidates, exact Jaccard verification against the index's stored
    * shingle sets. One keyed exchange, never |batch| x |corpus|.
    */
  def minhashPairsAgainstIndex(
      newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String,
      numPerms: Int = 16, r: Int = 2, w: Int = 3,
      jaccardThreshold: Double = 0.5): DataFrame = {
    val nsets = newDocs.select(
      col(idCol).cast(LongType).as("id"),
      shingleHashes(col(textCol), w).as("sset"))
      .localCheckpoint(true) // feeds the collapse + the member expansion
    // batch-side identical-set collapse: band keys, the index join, and
    // Jaccard verification run once per distinct batch CONTENT; member
    // rows re-expand at the very end. The OUTPUT is unchanged (every
    // (new_id, old_id) pair, copies included — the jaccard of a copy is
    // its representative's), but a 500-copy boilerplate batch against a
    // hot index band costs 1 verification instead of 500 x bucket.
    // The index side stays uncollapsed — it is the persisted artifact.
    val (nmembers, nreps, ncollapsed) = collapseIdenticalSetsTagged(nsets)
    val nbands = nreps
      .withColumn("sig", minhashSignatureFromHashes(col("sset"), numPerms))
      .select(col("id"), explode(lshBands(col("sig"), numPerms, r)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.sig").as("bsig"))
    val cand = nbands.select(col("id").as("new_rid"), col("band"), col("bsig"))
      .join(index.select(col("id").as("old_id"), col("band"), col("bsig")),
        Seq("band", "bsig"))
      .select(col("new_rid"), col("old_id"))
      .dropDuplicates("new_rid", "old_id")
    val esets = index.select(col("id"), col("sset")).dropDuplicates("id")
    val repPairs = cand
      .join(nreps.select(col("id").as("new_rid"), col("sset").as("sh_a")), Seq("new_rid"))
      .join(esets.select(col("id").as("old_id"), col("sset").as("sh_b")), Seq("old_id"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast(DoubleType) - col("inter"))
      .withColumn("jaccard", round(col("inter") / col("uni"), 6))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("new_rid"), col("old_id"), col("jaccard"))
    // nothing collapsed -> every rid IS its doc id; skip the member
    // re-expansion join
    if (!ncollapsed)
      repPairs.select(col("new_rid").as("new_id"), col("old_id"), col("jaccard"))
    else repPairs
      .join(nmembers.select(col("rid").as("new_rid"), col("id").as("new_id")),
        Seq("new_rid"))
      .select(col("new_id"), col("old_id"), col("jaccard"))
  }

  /** Partition-local union-find contraction of a canonical edge set
    * `(u LONG, v LONG)`: per partition, emit one `(member, local
    * component min)` star edge for every non-min node the partition
    * saw. Connectivity-equivalent to the input edge set globally (see
    * [[dedupClusters]]), output canonical (u > v, since v is a
    * component min), deduplicated within each partition by
    * construction. A node split across partitions emits one star edge
    * per partition — the global rounds reconcile those.
    * Set-deterministic given the input partitioning: the min per
    * component does not depend on edge order, so a task retry emits
    * the same star-edge set, though not necessarily in the same row
    * order (a shuffled partition's edges arrive in fetch order, and
    * the emission follows hash-map iteration).
    */
  private[graft] def contractLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("u"), col("v")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, java.lang.Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.get(x).longValue()
          while (p != x) { // path halving
            val gp = parent.get(p).longValue()
            parent.put(x, gp)
            x = gp
            p = parent.get(x).longValue()
          }
          x
        }
        while (it.hasNext) {
          val (u, v) = it.next()
          if (parent.get(u) == null) parent.put(u, u)
          if (parent.get(v) == null) parent.put(v, v)
          val ru = find(u); val rv = find(v)
          // always attach the larger root under the smaller, so every
          // tree root IS its component's minimum
          if (ru < rv) parent.put(rv, ru)
          else if (rv < ru) parent.put(ru, rv)
        }
        val nodes = new Array[Long](parent.size())
        val kit = parent.keySet().iterator()
        var i = 0
        while (kit.hasNext) { nodes(i) = kit.next().longValue(); i += 1 }
        nodes.iterator.flatMap { x =>
          val r = find(x)
          if (r != x) Iterator.single((x, r)) else Iterator.empty
        }
      }
      .toDF("u", "v")
  }

  /** Connected components over an undirected near-dup pair graph: every
    * corpus id labeled with the MIN id of its component — the dedup
    * keeper assignment that turns pair output ([[minhashPairs]] /
    * [[simhashPairs]]) into an actionable keep/drop decision. Singletons
    * keep their own id.
    *
    * Two-phase algorithm — optimistic propagation, then contraction:
    *
    * PHASE 1 (cheap rounds): plain neighbor-min label propagation for
    * up to `propRounds` rounds. Real near-dup graphs are usually
    * SHALLOW — planted clones and boilerplate form stars and tiny
    * blobs of diameter 1-2 — and propagation converges in 2 rounds of
    * one aggregation + one join each.
    *
    * PHASE 2 (deep graphs only): contract every edge through the
    * phase-1 labels (`(L(u), L(v))`, self-loops dropped — shallow
    * regions collapse to single nodes, so the residual graph is tiny)
    * and run alternating LARGE-STAR / SMALL-STAR edge contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) to a star forest — O(log² n) rounds REGARDLESS of
    * diameter. Label propagation alone is O(diameter) on the shape
    * deep near-dup graphs take (chains of dense blobs: ε-similarity
    * graphs through embedding space, cap-chain links over clone runs
    * — pointer jumping does NOT help there: each blob's labels point
    * at the blob-local min immediately, so the jump is a no-op and
    * the min crawls one inter-blob edge per round; measured on the
    * graded embedding corpus: 18 propagation rounds, unchanged under
    * label^4/label^8 jumps, vs 6 star rounds — and rounds are the
    * serial barrier a real cluster pays).
    *
    * Scale shape: every round is map-side-combined `groupBy.min`
    * aggregations plus |E|-sized joins — no `collect_list`
    * neighborhoods, so a giant star center is hash-join skew
    * (AQE-handled), never a single-task array. State is O(|pairs|),
    * not O(|corpus|); singletons re-attach in one final left join.
    * Every round ends in a STATS-TRUNCATING lazy checkpoint
    * ([[org.apache.spark.sql.graftshim.GraftShim.localCheckpointNoStats]]):
    * the plain `localCheckpoint` carries the plan's estimated
    * sizeInBytes into its LogicalRDD, and a loop that joins the
    * previous checkpoint k times per round compounds the estimate as
    * size^k — exponential BIT growth that had the driver multiplying
    * million-bit BigInts inside the stats visitor by round ~10.
    *
    * Convergence: phase 1 by per-round changed-label count; phase 2 by
    * a per-round (count, Σ xxhash64) signature match confirmed with an
    * EXACT set-equality check (`exceptAll` both ways), so a signature
    * collision cannot end the loop early. `maxIters` bounds the TOTAL
    * rounds and remains a loud backstop.
    */
  def dedupClusters(
      corpus: DataFrame, idCol: String,
      pairs: DataFrame, maxIters: Int = 25, propRounds: Int = 3): DataFrame = {
    val shim = org.apache.spark.sql.graftshim.GraftShim
    val ids = corpus.select(col(idCol).cast(LongType).as("id"))
    // Canonical undirected edges (u > v), self-pairs dropped, then a
    // PARTITION-LOCAL contraction (r19, guide §2.4/§1.2 — cut rounds,
    // not round cost): each task runs union-find over its own edges
    // and emits one (member → component-min) star edge per non-min
    // node it saw. The union of the per-partition stars is
    // connectivity-equivalent to the input (every input edge (u,v)
    // has both ends mapped to the same local min, and star edges only
    // link nodes the input linked), so the global rounds below see a
    // graph whose intra-partition structure is already solved —
    // components contained in one task collapse to stars that
    // propagation finishes in two rounds, and only genuinely
    // cross-partition structure pays iterative rounds. Replaces the
    // former dropDuplicates (its shuffle bought nothing: union-find is
    // duplicate-immune, and the contraction output is deduped within
    // each partition by construction). Memory is O(nodes per
    // partition) — the same order as a per-partition hash aggregation.
    // The checkpoint cuts the (large) pair-generation DAG out of every
    // round's plan, exactly as before.
    val canonEdges = pairs.select(
        greatest(col("id_a").cast(LongType), col("id_b").cast(LongType)).as("u"),
        least(col("id_a").cast(LongType), col("id_b").cast(LongType)).as("v"))
      .filter(col("u") =!= col("v"))
    // One keyed shuffle before the contraction (same budget as the
    // dropDuplicates it replaced) doing two jobs the raw pair-plan
    // partitioning cannot: (a) co-locate edges by their LOW endpoint,
    // so stars and chain runs land in one task and contract fully, and
    // (b) let AQE size the partition count to the edge bytes (keyed
    // repartition with no explicit count is AQE-coalescible) instead
    // of inheriting the pair join's task count — measured: without it,
    // every subsequent round scheduled ~2x the tasks over near-empty
    // partitions and the minhash-family CC queries ran 30-50% slower.
    val p0 = shim.localCheckpointNoStats(
      contractLocal(canonEdges.repartition(col("v"))))
    var iters = 0
    var converged = false

    // ---- phase 1: neighbor-min propagation over the edge subgraph.
    // One checkpoint per round; `labels` is a narrow select over it.
    // The PREVIOUS round's checkpoint blocks are dropped as soon as the
    // new round has materialized (the convergence count) — live
    // checkpoint state stays O(1) rounds, not O(rounds) (round-11
    // ADVICE: deep graphs accumulated unbounded executor blocks).
    val edges = p0.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(p0.select(col("v").as("src"), col("u").as("dst")))
    // Round 1 fused: against the init labels (label(id) = id) the
    // generic round's edges⋈labels join is the identity, so round 1 is
    // directly label(v) = least(v, min over incoming src) — ONE
    // aggregation over the symmetric edge table replaces the init
    // distinct + init checkpoint + the first round's join (r18: 3
    // stages saved per dedupClusters call; the node set is the dst
    // side of the symmetric edges, identical to distinct(src)).
    var labelsCp = shim.localCheckpointNoStats(
      edges.groupBy(col("dst").as("id")).agg(min(col("src")).as("msg"))
        .select(col("id"),
          least(col("id"), col("msg")).as("label"),
          col("id").as("prev")))
    converged = labelsCp.filter(col("label") =!= col("prev")).count() == 0
    var labels = labelsCp.select(col("id"), col("label"))
    iters = 1
    while (!converged && iters < math.min(propRounds, maxIters)) {
      val msgs = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("id")).agg(min(col("label")).as("msg"))
      val next = shim.localCheckpointNoStats(
        labels.select(col("id"), col("label").as("prev"))
          .join(msgs, Seq("id"), "left")
          .select(col("id"),
            least(col("prev"), coalesce(col("msg"), col("prev"))).as("label"),
            col("prev")))
      converged = next.filter(col("label") =!= col("prev")).count() == 0
      shim.unpersistCheckpoint(labelsCp)
      labelsCp = next
      labels = next.select(col("id"), col("label"))
      iters += 1
    }

    if (!converged) {
      // ---- phase 2: contract through phase-1 labels, then star rounds
      def sig(e: DataFrame): (Long, java.math.BigDecimal) = {
        // sum in DECIMAL(38,0): a Long sum of xxhash64 values overflows
        // under ANSI mode after a handful of rows
        val r = e.agg(count(lit(1)),
          sum(xxhash64(col("u"), col("v"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
        (r.getLong(0),
          if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
      }
      // large-star: for every node u, every LARGER neighbor re-attaches
      // to m = min(Γ(u) ∪ {u}); output stays canonical (v > u ≥ m). No
      // dedup here: smallStar's aggregations are duplicate-immune and
      // its final dedup canonicalizes the round's output.
      def largeStar(e: DataFrame): DataFrame = {
        val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
        val m = sym.groupBy("u").agg(min(col("v")).as("mv"))
          .select(col("u"), least(col("mv"), col("u")).as("m"))
        sym.join(m, "u").filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
      }
      // small-star: per node u (canonical edges, all v < u), fold every
      // smaller neighbor onto m = min(Γ⁻(u)), and u itself onto m
      def smallStar(e: DataFrame): DataFrame = {
        val m = e.groupBy("u").agg(min(col("v")).as("m"))
        val folded = e.join(m, "u").filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
        folded.unionAll(m.select(col("u"), col("m").as("v")))
          .dropDuplicates("u", "v")
      }
      val lu = labels.select(col("id").as("u"), col("label").as("lu"))
      val lv = labels.select(col("id").as("v"), col("label").as("lv"))
      var cur = shim.localCheckpointNoStats(
        p0.join(lu, Seq("u")).join(lv, Seq("v"))
          .select(greatest(col("lu"), col("lv")).as("u"),
            least(col("lu"), col("lv")).as("v"))
          .filter(col("u") =!= col("v"))
          .dropDuplicates("u", "v"))
      var curSig = sig(cur)
      converged = curSig._1 == 0L // fully collapsed by phase 1
      while (!converged && iters < maxIters) {
        val next = shim.localCheckpointNoStats(smallStar(largeStar(cur)))
        val nextSig = sig(next)
        if (nextSig == curSig) {
          converged = next.exceptAll(cur).unionAll(cur.exceptAll(next)).isEmpty
        }
        // `cur` had its last use this round (the star maps + the exact
        // equality check); release its checkpoint blocks now
        shim.unpersistCheckpoint(cur)
        cur = next
        curSig = nextSig
        iters += 1
      }
      if (converged) {
        // compose: phase-1 label, then its star root when it has one.
        // At the star fixpoint every non-root node carries exactly one
        // (node → component min) edge; groupBy-min is defensive.
        val starLabels = cur.groupBy(col("u").as("slabel_id"))
          .agg(min(col("v")).as("slabel"))
        labels = labels.join(starLabels,
            col("label") === col("slabel_id"), "left")
          .select(col("id"), coalesce(col("slabel"), col("label")).as("label"))
      }
    }
    // Exiting via the cap means the labels are NOT a fixpoint — some
    // component still carries two labels, i.e. wrong cluster ids. Fail
    // loudly so the caller raises maxIters instead of consuming
    // silently incorrect output.
    if (!converged) throw new IllegalStateException(
      s"dedupClusters did not converge within $maxIters iterations — " +
        "raise maxIters")
    ids.join(labels.select(col("id"), col("label")), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** Canonical-document selection: within each dedup cluster, keep the
    * member with the HIGHEST quality score (ties broken by lowest id) —
    * the keeper policy production pipelines actually want, instead of
    * the structural "keep the min-id member" default the cluster label
    * encodes. `labels` is [[dedupClusters]] output
    * (`doc_id, cluster_id`); `quality` maps `doc_id` to an integer
    * score (higher = better). Docs missing from `quality` rank below
    * every scored member (score −∞ via null-last ordering), so a
    * partial score table still yields exactly one keeper per cluster.
    *
    * Output: `(doc_id, cluster_id, quality, keep)` with `keep ∈ {0,1}`
    * and exactly one `keep = 1` per cluster.
    *
    * Scale shape: one `doc_id`-keyed join, then a single
    * `cluster_id`-partitioned window — both keyed shuffles; cluster
    * sizes bound the window partitions (the near-dup graph is sparse,
    * and [[dedupClusters]] upstream already capped bucket fan-out), so
    * no skew beyond what clustering itself admits.
    */
  def keepBest(labels: DataFrame, quality: DataFrame,
      idCol: String = "doc_id", qCol: String = "quality"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = quality.select(col(idCol).cast(LongType).as("doc_id"),
      col(qCol).cast(LongType).as("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc_nulls_last, col("doc_id"))
    labels.join(q, Seq("doc_id"), "left")
      .withColumn("keep",
        (row_number().over(w) === 1).cast(LongType))
      .select(col("doc_id"), col("cluster_id"), col("quality"), col("keep"))
  }

  /** Eval-set decontamination: flag corpus documents sharing at least
    * `minContainment` of a benchmark document's distinct w-shingle set
    * (containment = |S(doc) ∩ S(bench)| / |S(bench)| — the standard
    * n-gram-overlap test a training pipeline runs against held-out
    * benchmarks before training). Self-matches (same id) are excluded so
    * a benchmark drawn from the corpus doesn't flag itself.
    *
    * Scale shape: the benchmark side (eval sets — thousands of docs, not
    * billions) is exploded to (bench_id, shingle-hash) and BROADCAST;
    * the corpus side is a narrow per-row shingle explode that never
    * shuffles, and the only exchange is the (doc, bench) overlap count
    * keyed by matched pairs — bounded by actual n-gram collisions, not
    * |corpus|×|bench|.
    */
  def contaminationCheck(
      corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      w: Int = 3, minContainment: Double = 0.5): DataFrame = {
    val cs = corpus.select(col(idCol).cast(LongType).as("doc_id"),
      explode(shingleHashes(col(textCol), w)).as("h"))
    val bs = benchmark.select(col(benchIdCol).cast(LongType).as("bench_id"),
      shingleHashes(col(benchTextCol), w).as("bset"))
      .select(col("bench_id"), size(col("bset")).cast(LongType).as("bench_size"),
        explode(col("bset")).as("h"))
    cs.join(broadcast(bs), Seq("h"))
      .filter(col("doc_id") =!= col("bench_id"))
      // shingle sets are distinct on both sides, so the per-(doc, bench)
      // match count IS the intersection size
      .groupBy(col("doc_id"), col("bench_id"), col("bench_size"))
      .agg(count(lit(1)).cast(LongType).as("n_shared"))
      .withColumn("containment",
        round(col("n_shared").cast(DoubleType) / col("bench_size").cast(DoubleType), 6))
      .filter(col("containment") >= minContainment)
      .select(col("doc_id"), col("bench_id"), col("n_shared"), col("containment"))
  }

  /** Contamination SPAN metrology — how much of a document is benchmark
    * text, not just whether any of it is ([[contaminationCheck]]'s
    * binary containment gate). Per corpus document: the positional
    * w-shingle stream is marked against the union of the benchmark's
    * shingle hashes, and the longest CONSECUTIVE contaminated run is
    * extracted gaps-and-islands style (`pos - row_number` grouping).
    * A doc sharing 40 scattered common trigrams is noise; a doc whose
    * longest run is 40 consecutive shingles contains a verbatim ~42-
    * token benchmark passage — the span length separates the two, which
    * is how eval-overlap audits (GPT-3 appendix C; Dodge et al. 2021,
    * C4 audit) report contamination.
    *
    * Returns only contaminated docs (`n_contaminated > 0`):
    * `(doc_id, n_shingles, n_contaminated, contam_ppm, max_run)`.
    *
    * 100 TB shape: one positional-shingle pass over the corpus (no
    * distinct — order matters), the benchmark hash set rides a
    * broadcast (eval sets are bounded), and the run extraction windows
    * partition BY DOCUMENT — never a global sort. Cost is
    * O(shingles) + one per-doc window over the contaminated subset.
    */
  def contaminationSpans(
      corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, w: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // positional shingle hashes via the native kernel (one JIT'd call
    // per row) — the HOF spelling `transform(shingles(...), hash60)` is
    // CodegenFallback and dominated this operator's runtime
    val pos = corpus
      .select(col(idCol).cast(LongType).as("doc_id"),
        graft.expressions.ShingleHashSeq60.shingle_hash_seq60(col(textCol), w).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast(LongType).as("n_shingles"),
        posexplode(col("hs")).as(Seq("pos", "h")))
    val bset = benchmark
      .select(explode(shingleHashes(col(benchTextCol), w)).as("h"))
      .distinct()
    val hits = pos.join(broadcast(bset), Seq("h"))
    val runGrp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // n_shingles rides along through both aggregations (constant per
    // doc), so the positional explode has exactly ONE consumer — a
    // second pos.groupBy for the count would re-run the corpus-wide
    // explode (the double-evaluation disease; output is contaminated
    // docs only, so the hits stream already contains every output doc)
    hits
      .withColumn("grp", col("pos") - row_number().over(runGrp))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).cast(LongType).as("run"),
        max(col("n_shingles")).as("n_shingles"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_shingles")).as("n_shingles"),
        sum(col("run")).cast(LongType).as("n_contaminated"),
        max(col("run")).cast(LongType).as("max_run"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        expr("1000000 * n_contaminated div n_shingles").as("contam_ppm"),
        col("max_run"))
  }

  /** SimHash bit-fold given an already-materialized token-hash array
    * column — native codegen expression
    * ([[graft.expressions.SimHash60]]): one pass over the hash array per
    * row; md5 cost stays O(tokens) via the projection boundary in
    * [[withSimhash]].
    */
  def simhashFromHashes(hashes: Column): Column =
    graft.expressions.SimHash60.simhash60(hashes)

  /** SimHash: 60-bit fingerprint appended as `outCol`. Bit b is set iff
    * the frequency-weighted sum of (+1 / -1) over token-hash bit b is
    * positive.
    */
  def withSimhash(df: DataFrame, textCol: String, outCol: String = "sim"): DataFrame =
    df.withColumn("__tok_hashes",
        graft.expressions.TokenHash60.token_hash60(col(textCol)))
      .withColumn(outCol, simhashFromHashes(col("__tok_hashes")))
      .drop("__tok_hashes")

  /** SimHash near-dup pairs with hamming distance <= `maxHamming`,
    * blocked on equality of one of four 15-bit chunks (pigeonhole: any
    * pair within hamming 3 shares at least one chunk; `maxHamming` above
    * 3 trades recall for the same bounded join).
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    // Same shape as [[minhashPairs]]: buckets hold IDS ONLY, expanded by
    // the native capped-pair kernel (the earlier struct-member spelling
    // paid an interpreted HOF per bucket and shuffled every sim 4×);
    // fingerprints re-attach through two joins against the materialized
    // (id, sim) table. Eager checkpoint: three consumers, freed by the
    // ContextCleaner when the result is dropped.
    val withSim = withSimhash(
      df.select(col(idCol).cast(LongType).as("id"), col(textCol)), textCol)
      .select(col("id"), col("sim"))
      .localCheckpoint(true)
    // identical-FINGERPRINT pre-collapse (the minhash collapse's
    // hamming-space twin): hamming depends only on the sims, so docs
    // sharing a fingerprint collapse to the min-id representative —
    // chunk buckets hold one entry per distinct sim, and same-sim
    // copies emit identity STAR pairs (hamming 0) instead of flooding
    // every chunk bucket (a 2500-copy boilerplate cluster made all 4
    // chunk buckets hot on the skew corpus)
    val rids = withSim.groupBy(col("sim")).agg(min(col("id")).as("rid"))
      .localCheckpoint(true) // feeds members AND the rep bucket build
    val members = withSim.join(rids, Seq("sim")).select(col("rid"), col("id"))
    val reps = rids.select(col("rid").as("id"), col("sim"))
    val chunkKeys = (0 until 4).map { i =>
      struct(lit(i).as("chunk"),
        shiftright(col("sim"), 15 * i).bitwiseAND(lit(0x7FFFL)).as("ckey"))
    }
    val pairs = bucketedPairs(
      reps
        .select(col("id"), explode(array(chunkKeys: _*)).as("c"))
        .select(col("id"), col("c.chunk").as("chunk"), col("c.ckey").as("ckey")),
      Seq("chunk", "ckey"), maxBucket)
      // pairs sharing several chunks duplicate — dedup BEFORE the sim
      // joins so each pair is scored once
      .dropDuplicates("id_a", "id_b")
    val repPairs = pairs
      .join(reps.select(col("id").as("id_a"), col("sim").as("sim_a")), Seq("id_a"))
      .join(reps.select(col("id").as("id_b"), col("sim").as("sim_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    repPairs.unionByName(
      identityStarPairs(members).withColumn("hamming", lit(0L)))
  }

  /** Duplicated n-gram mass — the EXACT-SUBSTRING dedup readout (Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022: their suffix-array ExactSubstr primitive
    * re-expressed on fixed n-token windows, the standard
    * distributed-friendly approximation): per document, how many of
    * its n consecutive-token windows occur ANYWHERE else in the corpus
    * — another document or another position of the same one — and the
    * duplicated fraction in exact ppm. Document-level dedup misses
    * this entirely (a boilerplate paragraph pasted into a million
    * otherwise-unique pages); this is the number that decides whether
    * a corpus needs substring-level dedup on top.
    *
    * Output: `(<idCol>, n_tokens, n_grams, dup_grams, dup_ppm)` —
    * `n_grams = n_tokens − n + 1` (0 below n: a short document has NO
    * n-token window, so the whole-doc fallback shingle is explicitly
    * filtered out), `dup_ppm` NULL when there are no windows.
    *
    * Shape: the positional window hashes come from the native
    * [[graft.expressions.ShingleHashSeq60]] kernel (one JIT'd call per
    * row — the HOF spelling is CodegenFallback); ONE hash-keyed
    * shuffle pre-aggregates (doc, gram) counts map-side to the compact
    * per-doc-distinct table, whose shuffle output both consumers
    * (gram totals, the totals join) REUSE — Spark's ReuseExchange, so
    * the corpus-scale explode runs once without materializing a
    * token-scale checkpoint. The totals join is gram-keyed — a
    * high-cardinality hash partition, never a broadcast of
    * corpus-sized state. The short (id, n_tokens) lens pass is a
    * second narrow scan, same trade as rankedMatch's stats pass.
    */
  def dupNgramMass(df: DataFrame, idCol: String, textCol: String,
      n: Int = 20): DataFrame = {
    require(n >= 2, "window must be >= 2 tokens")
    val lens = df.select(col(idCol).cast(LongType).as(idCol),
      size(tokensCol(col(textCol))).cast(LongType).as("n_tokens"))
    // the id non-null filter is semantically a no-op (ids are keys) but
    // must be EXPLICIT: the final left join pushes isnotnull into only
    // one of the two perDoc consumers, and the asymmetric pushdown
    // breaks canonical subtree equality — without it ReuseExchange
    // cannot fire and the corpus-wide kernel pass runs twice
    // (PlanSpec pins the single-evaluation shape)
    val grams = df
      .filter(col(idCol).isNotNull && size(tokensCol(col(textCol))) >= n)
      .select(col(idCol).cast(LongType).as(idCol),
        explode(graft.expressions.ShingleHashSeq60
          .shingle_hash_seq60(col(textCol), n)).as("g"))
    val perDoc = grams.groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).cast(LongType).as("cnt"))
    val totals = perDoc.groupBy(col("g"))
      .agg(sum(col("cnt")).cast(LongType).as("tot"))
    val dup = perDoc.join(totals, Seq("g"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).cast(LongType).as("n_grams"),
        sum(when(col("tot") >= 2, col("cnt")).otherwise(lit(0L)))
          .cast(LongType).as("dup_grams"))
    lens.join(dup, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .withColumn("dup_ppm",
        when(col("n_grams") > 0,
          expr("(1000000 * dup_grams) div n_grams")).cast(LongType))
  }

  /** Duplicated-span PRUNING — the ACTION beside [[dupNgramMass]]'s
    * readout (Lee et al. ACL'22 ExactSubstr dedup, window-approximated):
    * drop from each document every token covered by a duplicated
    * n-token window occurrence that is not the gram's canonical FIRST
    * occurrence corpus-wide (keeper = lexicographic min (doc, position)
    * — deterministic, so any engine replays the same keeper). The
    * boilerplate paragraph pasted into a million pages survives exactly
    * once; every other copy is cut out of the middle of its page while
    * the unique text around it survives.
    *
    * Output: `(<idCol>, n_tokens, n_removed, pruned_text)` — removal
    * is by token POSITION (a token covered by ≥ 1 removable occurrence
    * goes, even where it also overlaps a kept window), which makes the
    * semantics a pure function of the occurrence table.
    *
    * Shape: positional gram hashes (native kernel) → ONE (gram)-keyed
    * pre-aggregation for the per-gram keeper (min struct — map-side
    * combined, skew-tolerant where a per-gram window would buffer);
    * the occurrence table joins the keeper back gram-keyed (exchange
    * reused across the two consumers, the dupNgramMass pattern);
    * ONLY removable occurrences expand to their n positions —
    * output-sized, not corpus×n; one doc-keyed mask aggregation and a
    * per-row HOF rebuild. Nothing broadcasts corpus-scale state.
    */
  def dupSpanPrune(df: DataFrame, idCol: String, textCol: String,
      n: Int = 20): DataFrame = {
    require(n >= 2, "window must be >= 2 tokens")
    val occ = spanOcc(df, idCol, textCol, n)
    val keepers = occ.groupBy(col("g"))
      .agg(min(struct(col(idCol), col("pos"))).as("keep"),
        count(lit(1)).cast(LongType).as("tot"))
    val removable = occ.join(keepers, Seq("g"))
      .filter(col("tot") >= 2 &&
        !(col(idCol) === col("keep")(idCol) && col("pos") === col("keep.pos")))
      .select(col(idCol), col("pos"))
    pruneByRemovable(df, idCol, textCol, removable, n)
  }

  /** Incremental [[dupSpanPrune]] for append-only corpus growth — the
    * substring-level member of the incremental family beside
    * [[exactIncremental]]: prune a NEW batch against (a) the PRIOR
    * corpus's persisted gram state and (b) itself. `existingGrams`
    * needs only a `g` column — the 8-byte window hashes a pipeline
    * persists between runs (the batch output of one run's
    * `spanOcc(g).distinct` unioned into the running state). Every
    * occurrence of a known gram is removable (the prior corpus holds
    * its keeper by definition); grams first seen in this batch keep
    * their intra-batch first occurrence, exactly [[dupSpanPrune]]'s
    * keeper rule restricted to the batch.
    *
    * Scale: the batch's occurrence table materializes once (eager
    * checkpoint — BATCH-scale, not corpus-scale; it feeds both the
    * known-gram semi/anti split) and all joins are gram-keyed hash
    * shuffles against the state table — the state is never broadcast
    * or collected.
    */
  def dupSpanPruneIncremental(
      newDocs: DataFrame, idCol: String, textCol: String,
      existingGrams: DataFrame, n: Int = 20): DataFrame = {
    require(n >= 2, "window must be >= 2 tokens")
    val occ = spanOcc(newDocs, idCol, textCol, n).localCheckpoint(true)
    val state = existingGrams.select(col("g"))
    val known = occ.join(state, Seq("g"), "left_semi")
      .select(col(idCol), col("pos"))
    val fresh = occ.join(state, Seq("g"), "left_anti")
    val keepers = fresh.groupBy(col("g"))
      .agg(min(struct(col(idCol), col("pos"))).as("keep"),
        count(lit(1)).cast(LongType).as("tot"))
    val freshRemovable = fresh.join(keepers, Seq("g"))
      .filter(col("tot") >= 2 &&
        !(col(idCol) === col("keep")(idCol) && col("pos") === col("keep.pos")))
      .select(col(idCol), col("pos"))
    pruneByRemovable(newDocs, idCol, textCol,
      known.unionAll(freshRemovable), n)
  }

  /** The positional n-gram occurrence table `(id, pos, g)` shared by
    * the span-prune family — 1-based positions; short docs carry no
    * window (the explicit id/size filter keeps multiple consumers
    * canonically equal so ReuseExchange can fire — see
    * [[dupNgramMass]]'s note).
    */
  private def spanOcc(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.filter(col(idCol).isNotNull && size(tokensCol(col(textCol))) >= n)
      .select(col(idCol).cast(LongType).as(idCol),
        posexplode(graft.expressions.ShingleHashSeq60
          .shingle_hash_seq60(col(textCol), n)).as(Seq("pos0", "g")))
      .select(col(idCol), (col("pos0") + 1).cast(LongType).as("pos"), col("g"))

  /** Expand removable occurrences `(id, pos)` to their n token
    * positions, aggregate a per-doc mask, and rebuild each document
    * without the masked tokens — the shared back half of the
    * span-prune family. Expansion is removable-occurrence-sized
    * (output-scale), the rebuild a per-row HOF.
    */
  private def pruneByRemovable(df: DataFrame, idCol: String,
      textCol: String, removable: DataFrame, n: Int): DataFrame = {
    val base = df.select(col(idCol).cast(LongType).as(idCol),
      tokensCol(col(textCol)).as("__toks"))
    val mask = removable
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (n - 1))).as("tp"))
      .groupBy(col(idCol))
      .agg(collect_set(col("tp")).as("__mask"))
    base.join(mask, Seq(idCol), "left")
      .withColumn("__mask", coalesce(col("__mask"), array().cast("array<long>")))
      // the empty-doc guard is load-bearing: sequence(1, 0) produces the
      // DESCENDING [1, 0] and element_at(_, 0) is a runtime error — a
      // punctuation-only doc (zero tokens) must fall to the empty array.
      // Rebuild cost is O(n_tokens * |mask|) per row (array_contains is
      // a linear scan); |mask| <= n_tokens and is small in practice —
      // a doc that is mostly duplicated spans collapses the output, not
      // the mask. Revisit with an interval-merge walk if a corpus of
      // huge heavily-duplicated docs ever surfaces in bench.
      .withColumn("__pruned",
        when(size(col("__toks")) === 0, col("__toks"))
          .otherwise(filter(transform(sequence(lit(1), size(col("__toks"))),
            i => when(!array_contains(col("__mask"), i.cast(LongType)),
              element_at(col("__toks"), i))),
            x => x.isNotNull)))
      .select(col(idCol),
        size(col("__toks")).cast(LongType).as("n_tokens"),
        (size(col("__toks")) - size(col("__pruned"))).cast(LongType).as("n_removed"),
        array_join(col("__pruned"), " ").as("pruned_text"))
  }
}
