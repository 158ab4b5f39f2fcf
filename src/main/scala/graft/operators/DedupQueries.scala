package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table — the training-data
  * pipeline extensions (exact hash, MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Design constraint: every hash used is md5 (identical lowercase-hex
  * semantics in Spark and DuckDB) so each query has a true DuckDB oracle.
  * md5-as-minhash is slower than xxhash64 but the plan shape — explode →
  * partial agg → band join — is identical; swapping the hash is a
  * one-line change at deploy time.
  *
  * Scale notes: all flows are explode → groupBy(doc) → (optional band
  * self-join). The only shuffles are on doc_id (evenly distributed) and
  * band keys; no O(N²) pairwise stage ever materializes except *within*
  * an LSH band/bucket, which is the standard linear-scale near-dup design
  * (the point of banding).
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Word-level tokens. */
  private def toks: Column = split(col("text"), " ")

  /** Distinct word 3-shingles per doc (1-based element_at to mirror
    * DuckDB's 1-based list indexing — same shingle strings both sides).
    * Docs under 3 tokens are dropped up front: Spark's sequence(1, n)
    * REVERSES direction for n < 1 instead of yielding empty.
    *
    * The token array is materialized as a column FIRST: element_at over an
    * inlined split() re-splits the string per access, turning shingling
    * into O(tokens²) string work per document — at 100 TB that's the whole
    * job's budget. One projection makes it O(tokens).
    */
  private[graft] def shingles(df: DataFrame): DataFrame = {
    // explode amplification: input is row-light (one doc) but the output
    // (shingles × hash functions) is CPU-heavy. A compact source — one
    // parquet file, few row groups — would pin all that work on 1-2 tasks,
    // so spread rows across the cluster BEFORE amplifying. The explicit
    // partition count matters: AQE sizes shuffles by bytes and would
    // coalesce the tiny pre-explode rows back to one task; a numbered
    // repartition is exempt from AQE coalescing.
    val tok = df.repartition(df.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), toks.as("tk")) // THE tokenizer (one definition)
      .filter(size(col("tk")) >= 3)
    tok.select(col("doc_id"),
      array_distinct(transform(
        sequence(lit(1), size(col("tk")) - 2),
        i => concat_ws(" ",
          element_at(col("tk"), i), element_at(col("tk"), i + 1),
          element_at(col("tk"), i + 2)))).as("sh"))
      // the per-doc distinct count rides the explode as `n` — the
      // jaccard/containment consumers need it per PAIR, and carrying it
      // here lets them read it off the posting list instead of joining a
      // doc-count table back onto the exploded pair stream (a join the
      // 10× probe showed the static planner can fatally misplan — see
      // jaccardPairsFrom). HOW it rides matters: n must travel INSIDE
      // the generator's element struct. The obvious
      // `select(size($"sh"), explode($"sh"))` keeps a reference to the
      // array across the Generate, which then retains the full array on
      // every exploded row — an A/B measured that shape at ~20× the
      // historical projection on a 10× corpus (19.0s vs 0.93s). This
      // shape measures within noise of the historical one.
      .select(col("doc_id"), explode(transform(col("sh"),
        x => struct(x.as("s"), size(col("sh")).as("n")))).as("e"))
      .select(col("doc_id"), col("e.n").as("n"), col("e.s").as("s"))
  }

  private val HexHigh = Seq("8", "9", "a", "b", "c", "d", "e", "f")

  /** d01: exact dedup — canonical-keeper per content hash. Replaces
    * nondeterministic dropDuplicates with min(doc_id)-keeper semantics so
    * the result is stable under any partitioning (a requirement for
    * reproducible 100 TB dedup runs, not just for the oracle).
    */
  val d01_dedup_exact: Q = (s, dir) => {
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper"))
  }

  /** d02: MinHash + LSH near-dup candidates. k=16 hash functions
    * (md5 salted by index), b=4 bands × r=4 rows. One shuffle to build
    * signatures (16 partial-min aggregates — map-side combined), one
    * shuffle for the band self-join. At threshold j≈0.9 the 4×4 banding
    * catches ≥98% of pairs.
    */
  val d02_minhash_lsh: Q = (s, dir) =>
    minhashPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  /** (doc_a, doc_b) candidate pairs, doc_a < doc_b — shared by d02 (the
    * listing), d07 (the clustering over them), and c17 (the
    * decontaminated split's cross-split adjacency). */
  private[operators] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsFrom(shingles(Tables.documents(s, dir)))

  private def minhashPairsFrom(sh: DataFrame): DataFrame =
    pairsFromBands(lshBands(sh))

  /** The LSH band rows `(doc_id, band, h)` for a shingle set — exposed
    * package-private so the dedup soak can measure the REAL pipeline's
    * bucket distribution (the Σ b(b-1)/2 pair-space prediction is
    * computed from exactly the buckets the pair generator consumes). */
  private[graft] def lshBands(sh: DataFrame): DataFrame = {
    val mins = (0 until 16).map(i =>
      min(md5(concat(lit(s"$i:"), col("s")))).as(s"mh$i"))
    val sig = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandCols = (0 until 4).map(b =>
      md5(concat_ws("|", (0 until 4).map(r => col(s"mh${b * 4 + r}")): _*)))
    sig.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "h")))
  }

  /** Candidate pairs from band rows — bucket → sorted posting list →
    * pairs: the signature pipeline runs once (a self-join would recompute
    * the whole minhash upstream on both sides) and candidate pairs never
    * leave their band bucket. */
  /** Ordered-pair explode over a SORTED array column: emits every (x, y)
    * with x before y, as `named_struct('a', x, 'b', y)`. The index
    * arithmetic is subtle (0-based `transform` lambda index feeding the
    * 1-based `slice` start) — ONE definition, four consumers
    * (band buckets, packed postings, passage postings, d17's variant
    * buckets); element type is whatever the array holds. */
  private def orderedPairs(arr: String): Column = expr(
    s"flatten(transform($arr, (x, i) -> transform(slice($arr, i + 2, " +
      s"size($arr) - i - 1), y -> named_struct('a', x, 'b', y))))")

  private[graft] def pairsFromBands(bands: DataFrame,
      bucketCap: Option[Int] = None): DataFrame = {
    val buckets = bands.groupBy(col("band"), col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    // the d12/d13 cap discipline for the MINHASH family: a bucket's pair
    // array materializes IN ONE ROW before explode, so a viral exact-dup
    // group (every copy shares all 4 bands) is C(m,2) structs in one
    // task — cap it and a flooded bucket contributes NO pairs, a
    // deliberate recall decision (the flood is exactly what d01's exact
    // pass removes first in a real pipeline). Gate corpora run uncapped:
    // their duplicate groups are generator-bounded.
    val kept = bucketCap.map(c => buckets.filter(size(col("ds")) <= c))
      .getOrElse(buckets)
    kept
      .select(explode(orderedPairs("ds")).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  /** d07: near-dup CLUSTERS — connected components over the MinHash pair
    * graph; cluster id = min doc_id of the component (so "keep the cluster
    * representative" is `WHERE doc_id = cluster_id`). This is the step that
    * turns pairwise near-dup evidence into an actual dedup decision.
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING —
    * each round (a) takes the min label over direct neighbors, then
    * (b) replaces every label by its label's label (path halving). The
    * jump step is what makes long chains converge in O(log diameter)
    * rounds instead of O(diameter) — the property that matters when a
    * 100 TB corpus contains million-doc duplicate chains. Labels are
    * min-monotone, so the fixpoint is exact, not approximate.
    *
    * Per round: two shuffles (neighbor join + jump join) over the EDGE
    * set only — the corpus itself is never re-scanned (pairs are computed
    * once and persisted). `localCheckpoint` truncates the growing lineage
    * each round (on a cluster: `checkpoint` to reliable storage). The
    * driver-side loop carries no data — only a converged? flag per round,
    * the standard shape of iterative graph algorithms on Spark.
    */
  val d07_dedup_clusters: Q = (s, dir) =>
    connectedComponents(minhashPairs(s, dir)).orderBy(col("doc_id"))

  /** Connected components over an undirected pair list `(doc_a, doc_b)` →
    * `(doc_id, cluster_id)` with cluster_id = component min. See
    * [[d07_dedup_clusters]] for the algorithm discussion. Returns the
    * exact fixpoint; rounds = O(log diameter). */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // both directions from each pair row in ONE pass (the d14 shape) —
    // a two-branch union would reference the whole upstream pair
    // pipeline once per branch and re-run its post-exchange stages twice
    val edges = pairs.select(explode(expr(
        "array(named_struct('u', doc_a, 'v', doc_b), " +
          "named_struct('u', doc_b, 'v', doc_a))")).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .transform(graft.Checkpoints.stage) // materialize once; every round reuses it
    var labels = graft.Checkpoints.stage(
      edges.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u").as("doc_id"), least(col("u"), col("mn")).as("lbl")))
    // Convergence check WITHOUT a per-round join: labels are min-monotone
    // (hop takes a min over {self} ∪ neighbors, jump takes least), so any
    // change strictly DECREASES the label sum; fixpoint ⟺ the sum is
    // unchanged. One tiny aggregate over the checkpointed labels per round
    // replaces the jumped⋈prev shuffle join — 3 shuffles/round instead
    // of 4. Decimal(38) sum: exact at any doc_id magnitude × count.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      // sum of ZERO rows is SQL NULL — map it to 0 so an empty pair list
      // (no near-dups at all) converges instead of NPE-ing on compareTo
      val d = df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var prevSum = labelSum(labels)
    var converged = labels.isEmpty
    while (!converged) {
      val viaNbr = edges
        .join(labels.withColumnRenamed("doc_id", "v2"), col("v") === col("v2"))
        .select(col("u").as("doc_id"), col("lbl"))
      // hop staged too: it sits on BOTH sides of the jump self-join, and
      // un-staged its final aggregate (union + groupBy min) re-executes
      // once per side per round — a full extra aggregation per round of
      // a multi-round iterate at 100 TB
      val hop = graft.Checkpoints.stage(labels.unionByName(viaNbr)
        .groupBy(col("doc_id")).agg(min(col("lbl")).as("lbl")))
      val jumped = hop
        .join(hop.select(col("doc_id").as("d2"), col("lbl").as("l2")),
          col("lbl") === col("d2"), "left")
        .select(col("doc_id"), least(col("lbl"), coalesce(col("l2"), col("lbl"))).as("lbl"))
        .transform(graft.Checkpoints.stage)
      val newSum = labelSum(jumped)
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      // the superseded iterate's blocks are dead the moment `jumped`
      // materialized — release eagerly (the PageRank lesson, SOAK_r14b)
      graft.CacheOps.unpersistLocalCheckpoint(hop)
      graft.CacheOps.unpersistLocalCheckpoint(labels)
      labels = jumped
    }
    // the returned frame is its own checkpoint; edges are ballast now
    graft.CacheOps.unpersistLocalCheckpoint(edges)
    labels.select(col("doc_id"), col("lbl").as("cluster_id"))
  }

  /** d03: SimHash — 16-bit signature over distinct unigram tokens. Bit j
    * votes +1/-1 by the top hex nibble of md5(j ++ token); bit set iff the
    * vote sum is positive. Entirely codegen'd expressions; one shuffle.
    */
  val d03_simhash: Q = (s, dir) =>
    simhashes(s, dir).orderBy(col("doc_id"))

  /** (doc_id, simhash) over `bits` signature bits — shared by d03/d06
    * (16-bit) and d09 (64-bit). Bit 63 is the sign bit: `1L << 63` is
    * Long.MinValue, the correct two's-complement value on both engines,
    * and it is added LAST (ascending reduce) so no intermediate partial
    * sum can overflow under ANSI mode.
    *
    * Hash budget: ONE md5 yields 32 hex nibbles, so bit j votes by the
    * high bit of nibble `j % 32` of md5 number `j / 32` — a 64-bit
    * signature costs 2 md5 calls per token, not 64 (measured 4.2s → ~1s
    * for d09 at sf0.1; the digest, not the substring, is the cost).
    * d03/d06 keep their original per-bit-salt scheme (their 16 bits were
    * specified and oracle-frozen in round 1); d09's wider family is
    * defined nibble-indexed from the start. */
  private[graft] def simhashes(s: SparkSession, dir: String, bits: Int = 16): DataFrame = {
    // same pre-amplification spread as [[shingles]]: the md5 vote work is
    // (tokens × digests) CPU-heavy while the input is one compact parquet
    // file (1-2 scan tasks) — without the spread the whole hash pass runs
    // on one core (measured: d09 4.8s → 0.6s solo at 32 cores). Hashed on
    // doc_id, so the groupBy's partial aggregate still collapses fully
    // per partition; a numbered repartition is exempt from AQE coalescing.
    val tok = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(array_distinct(toks)).as("tok"))
    val (rows, votes) =
      if (bits <= 16)
        (tok, (0 until bits).map(j =>
          sum(when(substring(md5(concat(lit(s"$j:"), col("tok"))), 1, 1)
            .isin(HexHigh: _*), 1).otherwise(-1)).as(s"v$j")))
      else {
        // digests are PROJECTED once per token row (not repeated inside
        // each aggregate expression), so the hash cost is exactly
        // ceil(bits/32) md5 per token
        val nDigests = (bits + 31) / 32
        val withDigests = tok.select(col("doc_id") +:
          (0 until nDigests).map(g =>
            md5(concat(lit(s"g$g:"), col("tok"))).as(s"dg$g")): _*)
        (withDigests, (0 until bits).map { j =>
          sum(when(substring(col(s"dg${j / 32}"), j % 32 + 1, 1)
            .isin(HexHigh: _*), 1).otherwise(-1)).as(s"v$j")
        })
      }
    val agg = rows.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sim = (0 until bits).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** Banded signature self-join → hamming histogram of pairs within
    * `maxHamming` — shared by d06 (4×4-bit bands) and d09 (4×16-bit).
    * By pigeonhole, any pair within hamming `bands - 1` shares an intact
    * band, so with maxHamming ≤ bands - 1 the equi-join is LOSSLESS.
    * Candidates pair only within a (band, value) bucket — Σ bucket² work,
    * never all-pairs — then codegen'd `bit_count(xor)` verifies exactly.
    */
  private[graft] def bandedHammingHistogram(sim: DataFrame, bands: Int, bandBits: Int,
                                     maxHamming: Int,
                                     maxBucket: Option[Int] = None): DataFrame = {
    require(maxHamming <= bands - 1, "pigeonhole losslessness needs maxHamming <= bands-1")
    val mask = (1L << bandBits) - 1
    val allBanded = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), bandBits * b).bitwiseAND(mask).as("bv"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.bv"))
    // optional per-(band, value) bucket cap, applied BEFORE the pair
    // join (d13): an over-full bucket — a degenerate band value shared
    // corpus-wide, the simhash analog of d12's boilerplate gram — never
    // amplifies. The keep-set is bounded by bands × 2^bandBits rows,
    // broadcastable at any corpus size. Dropping a bucket only loses
    // pairs whose EVERY shared band is over-full.
    val banded = maxBucket.map { cap =>
      val keep = allBanded.groupBy(col("band"), col("bv"))
        .agg(count(lit(1)).as("bn")).filter(col("bn") <= cap)
        .select(col("band"), col("bv"))
      allBanded.join(broadcast(keep), Seq("band", "bv"), "left_semi")
    }.getOrElse(allBanded)
    val a = banded.select(col("band"), col("bv"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band"), col("bv"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair can share several bands; count once
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("hamming"))
  }

  /** d04: exact n-gram Jaccard pairs ≥ 0.6 — the ground-truth twin of d02.
    *
    * Inverted-index shape: group shingle → sorted posting list, emit each
    * co-occurring pair once from the list, count pairs, then join the
    * per-doc shingle counts. One explode and two data shuffles total
    * (vs three + a self-join for the naive exploded self-join), and only
    * docs sharing ≥1 shingle ever pair — the pair space stays
    * Σ|posting|², never O(N²). At 100 TB the posting-list groupBy is the
    * only big shuffle and it's key-uniform.
    */
  val d04_ngram_jaccard: Q = (s, dir) =>
    jaccardPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  /** (doc_a, doc_b, jaccard ≥ 0.6) — shared by d04 (the listing) and d08
    * (the recall audit against d02's candidates). */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsFrom(shingles(Tables.documents(s, dir)))

  /** JOIN-FREE pair scoring: each posting element is (doc_id, n), so the
    * exploded pair rows carry BOTH set sizes and the whole query is
    * explode → one (pair, sizes)-keyed count agg. History: the original
    * plan joined a doc-count table onto the aggregated pair stream; the
    * 10× probe (SOAK_r09c) caught the static planner UNDER-estimating
    * the explode side and broadcasting IT into that join (Spark's hard
    * 8 GiB cap at 50k docs). Pinning the build side fixed the cliff but
    * taxed sf0.1 ~1.1s; carrying n on the posting struct removes the
    * join layer entirely — strictly fewer shuffles than the original at
    * every scale, and nothing left for the planner to misplan. */
  private def jaccardPairsFrom(sh: DataFrame): DataFrame =
    pairCounts(invertedPostings(sh, maxPosting = None))
      // explicit half-up: integer-ratio jaccards land exactly on .00005
      // boundaries where Spark (half-up) and DuckDB (half-even) diverge
      .withColumn("jaccard", floor(col("inter") /
        (col("na") + col("nb") - col("inter")) * 10000 + 0.5) / 10000)
      .filter(col("jaccard") >= 0.6)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Posting lists with the per-doc shingle count PACKED into each
    * element (`doc_id * 2^20 + n`; n < 2^20 — documents have bounded
    * shingle counts, and a guard would only matter past million-shingle
    * docs). Why pack instead of `collect_list(struct(...))`: sort_array
    * over struct arrays falls back to interpreted per-element ordering,
    * which the 30× probe measured at ~25× the long-array sort on hot
    * postings — packed longs keep the sort codegen'd AND sort by doc_id
    * (high bits) exactly like the plain list did. The cap filter runs
    * BEFORE the sort so capped-away hot postings are never sorted at
    * all. */
  private val PackBase = 1L << 20

  private def invertedPostings(sh: DataFrame, maxPosting: Option[Int]): DataFrame = {
    // Guarded pack: a doc with >= 2^20 distinct shingles or a negative
    // doc_id would silently corrupt pair identities (Spark div/% truncate
    // toward zero, breaking unpack for negatives) — fail the task loudly
    // instead. The branch is codegen'd and costs one compare per shingle.
    val packed = expr(
      s"if(doc_id >= 0 and doc_id < ${Long.MaxValue / PackBase} and n < $PackBase, " +
        s"doc_id * $PackBase + n, " +
        "cast(raise_error(concat('packed posting out of range: doc_id=', " +
        "cast(doc_id as string), ' n=', cast(n as string))) as bigint))")
    val inv = sh.groupBy(col("s"))
      .agg(collect_list(packed).as("ds0"))
      .filter(size(col("ds0")) >= 2)
    val kept = maxPosting.map(c => inv.filter(size(col("ds0")) <= c)).getOrElse(inv)
    kept.select(sort_array(col("ds0")).as("ds"))
  }

  /** Ordered-pair explode over packed postings → (pa, pb), both still
    * PACKED. The flattened pair array holds two longs per pair — byte-
    * identical to the historical doc_id-only shape (a 4-field unpacked
    * struct here measured ~3× slower at 10×: the per-posting pair array
    * materializes in full before explode, so struct width directly
    * scales allocation and GC on hot postings). Callers aggregate on the
    * packed pair (same narrow 2-long keys as ever — packing is
    * injective) and unpack AFTER the aggregation, on the collapsed
    * rows. */
  private def packedPairs(inv: DataFrame): DataFrame =
    inv.select(explode(orderedPairs("ds")).as("p"))
      .select(col("p.a").as("pa"), col("p.b").as("pb"))

  /** Count per packed pair, then unpack ids and sizes on the collapsed
    * aggregate output → (doc_a, na, doc_b, nb, inter). */
  private def pairCounts(inv: DataFrame): DataFrame =
    packedPairs(inv)
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("inter"))
      .select(expr(s"pa div $PackBase").as("doc_a"), (col("pa") % PackBase).as("na"),
        expr(s"pb div $PackBase").as("doc_b"), (col("pb") % PackBase).as("nb"),
        col("inter"))

  /** d08: LSH recall audit — what fraction of the exact Jaccard-≥0.6
    * ground-truth pairs (d04) do the MinHash banding candidates (d02)
    * actually reach? The number every production LSH deployment needs
    * before trusting its banding parameters: b/r tuning is a theoretical
    * S-curve; this measures the realized recall on THIS corpus. One audit
    * row out; both inputs are the linear-scale pipelines they audit, so
    * the check itself runs at corpus scale (sampled in practice).
    */
  val d08_lsh_recall: Q = (s, dir) => {
    // Three localCheckpoint cuts. The SHINGLE table feeds both audited
    // pipelines (d02's minhash and d04's inverted index use the same
    // 3-shingles), so computing it once halves the explode work; both
    // consumers re-shuffle it anyway, so the materialization replaces a
    // recompute, not a narrow pipeline. The PAIR sets are each referenced
    // twice below (count + semi-join) — without the cut Catalyst plans
    // the full pipeline once per reference. Pairs are tiny; shingles are
    // corpus×shingle-sized but strictly smaller than re-running the scan
    // + split + explode per pipeline.
    val sh = shingles(Tables.documents(s, dir)).localCheckpoint()
    // the two pair builds are independent jobs over the cut shingle
    // table — materialize them concurrently (guide §2.6)
    val (exact, cand) = graft.Par.both(
      jaccardPairsFrom(sh).select(col("doc_a"), col("doc_b")).localCheckpoint(),
      minhashPairsFrom(sh).localCheckpoint())
    val hit = exact.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    // one audit row out: seal it and release the three cuts (shingle
    // table + both pair sets) — see CacheOps.sealAndRelease; this entry
    // was the r20 ballast smoking gun (17 s late-session vs 1.4 s fresh)
    graft.CacheOps.sealAndRelease(
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_candidates"), col("n_hit"),
          when(col("n_exact") === 0, lit(0.0)).otherwise(
            floor(col("n_hit") / col("n_exact") * 10000 + 0.5) / 10000).as("recall")),
      sh, exact, cand)
  }

  /** d06: SimHash near-dup PAIRS — docs whose 16-bit signatures differ in
    * ≤3 bits. Banded exactly like d02: split the signature into 4 nibble
    * bands; by pigeonhole any pair within hamming 3 shares at least one
    * intact band, so the band equi-join is a LOSSLESS candidate generator
    * (not probabilistic like MinHash banding). Candidates pair only within
    * a (band_idx, band_value) bucket — Σ bucket² work, never all-pairs —
    * then `bit_count(xor)` (both codegen'd built-ins) verifies exactly.
    * At 100 TB: wider signatures (64/128-bit) mean more, smaller bands —
    * same plan; a pathological hot bucket (e.g. empty-ish docs all hashing
    * alike) would be salted or capped upstream like any skewed join key.
    *
    * Output is the hamming HISTOGRAM of the deduped pair set (4 rows at
    * any scale) rather than the pairs themselves: a 16-bit signature over
    * a small vocabulary collides heavily, so the raw pair list is
    * quadratic-ish in corpus size — a fine intermediate, a bad result set.
    */
  val d06_simhash_pairs: Q = (s, dir) => {
    // materialize the signature table once: a naive self-join re-runs the
    // whole 16×md5 corpus aggregation on BOTH probe sides (visible in the
    // physical plan as two identical HashAggregate subtrees). The banded
    // self-join then reads the tiny (doc_id, simhash) table twice instead.
    // The JOIN shape (not a collect_list posting list like d02) is
    // deliberate: nibble bands have only 16 values × 4 bands = 64 buckets,
    // so pair generation must stream against the bucket, not explode from
    // 64 giant grouped rows.
    val sig = simhashes(s, dir).localCheckpoint()
    graft.CacheOps.sealAndRelease( // ≤4-row histogram: seal, drop the signature cut
      bandedHammingHistogram(sig, bands = 4, bandBits = 4, maxHamming = 3), sig)
  }

  /** d09: 64-bit SimHash near-dup pairs — the production-width signature
    * (d06's own scale note made real: wider signature → more, larger
    * bands, same plan). 4×16-bit bands give 65 536 values per band, so
    * bucket occupancy — the Σ bucket² cost driver — drops by ~4096× vs
    * d06's nibble bands while the pigeonhole guarantee (hamming ≤ 3 pairs
    * always share an intact band) is unchanged. A 64-bit signature also
    * collides orders of magnitude less on big corpora, so the surviving
    * pairs are true near-dups rather than small-vocabulary accidents.
    */
  val d09_simhash64_pairs: Q = (s, dir) => {
    val sig = simhashes(s, dir, bits = 64).localCheckpoint()
    graft.CacheOps.sealAndRelease(
      bandedHammingHistogram(sig, bands = 4, bandBits = 16, maxHamming = 3), sig)
  }

  /** d13: d09 with a per-(band, value) BUCKET CAP — the simhash-family
    * analog of d12's posting cap, shipped on the round-9 soak's finding
    * (SOAK_r09: the banded candidate space grows ~quadratically when
    * signatures concentrate — 1.1M → 109M predicted candidates on 10×
    * docs even at 64-bit width, because a corpus-dominant band value
    * puts a growing fraction of the corpus into one bucket). A bucket
    * bigger than `cap` is a DEGENERATE band value (boilerplate-level
    * commonality), and dropping it before the pair join bounds any
    * single (band, value)'s fan-out to C(cap, 2) — pair space
    * Σ min(|bucket|, cap)², linear at fixed cap. The pigeonhole recall
    * trade is explicit: a true near-dup pair is lost only if EVERY band
    * it shares intact is over-full. Cap is a caller argument (the d12 /
    * q36 API discipline); the oracle replicates the banding + cap in
    * SQL, so capped semantics are hash-checked, not just spec-asserted.
    */
  val d13_simhash64_capped: Q = (s, dir) => simhash64Capped(s, dir)

  def simhash64Capped(s: SparkSession, dir: String,
      cap: Int = DefaultBandBucketCap): org.apache.spark.sql.DataFrame = {
    val sig = simhashes(s, dir, bits = 64).localCheckpoint()
    graft.CacheOps.sealAndRelease(
      bandedHammingHistogram(sig, bands = 4, bandBits = 16, maxHamming = 3,
        maxBucket = Some(cap)), sig)
  }

  /** Default bucket cap for d13: C(256,2) ≈ 33k pairs max per bucket —
    * generous for a true near-dup family, linear-bounding for the
    * degenerate corpus-wide band values the soak measured. */
  val DefaultBandBucketCap = 256

  /** d11: EXACT shared-passage detection — the exact-substring dedup of
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better") in its n-gram-set formulation: two docs share a passage of
    * ≥ K chars iff they share some stride-1 K-char gram, so the listing
    * is exact for the K=40 threshold — and because the gram ITSELF is
    * the grouping key (not a hash of it), the "verify candidate
    * collisions" step is folded into the groupBy. Inverted-index shape
    * identical to d04: distinct per-doc grams → posting lists → each
    * co-occurring pair emitted once — pair space Σ|posting|², key-uniform
    * shuffles, never O(N²). At 100 TB the key would be a 128-bit gram
    * hash with the same plan (hash collisions then need the equality
    * verify the literal key gives for free here). Docs shorter than K
    * are filtered on BOTH sides — load-bearing: Spark's
    * `sequence(1, len-39)` for len<40 yields the DESCENDING [1, 0], not
    * the empty list DuckDB's generate_series produces. Output:
    * (doc_a, doc_b, n_shared) = DISTINCT shared grams — the overlap-mass
    * ranking an exact-substring dedup pass removes from.
    */
  val d11_shared_passages: Q = (s, dir) =>
    passagePairs(passageIndex(s, Tables.documents(s, dir)))

  /** d12: d11 with a POSTING-SIZE CAP — grams shared by more than
    * `maxPosting` docs (boilerplate: license headers, navigation chrome,
    * templates) are EXCLUDED from pair generation. This is the hot-tail
    * guard the uncapped pair space needs at corpus scale: one 40-gram
    * shared by 10k docs is 5×10⁷ pairs from a single key, and web-corpus
    * boilerplate makes such grams common — while contributing nothing to
    * the shared-PASSAGE ranking (ubiquitous text is what near-dup scoring
    * must ignore, the same reason MinHash pipelines drop stop-shingles).
    * Pair space under the cap is bounded by Σ min(|posting|, cap)² —
    * LINEAR in corpus size at fixed cap. Oracle: same SQL with the
    * posting-size HAVING filter. Skew measured in the round-8 soak
    * (boilerplate-injected corpus, 2 scales). */
  val d12_shared_passages_capped: Q = (s, dir) => sharedPassagesCapped(s, dir)

  /** d12's caller-facing form: the posting cap is an ARGUMENT, not a
    * buried constant — corpus boilerplate density varies, and the right
    * cap is the caller's call (same API move as q36's `bloomPrunedJoin`
    * sizing params). The cap is a recall/cost knob only, never a
    * correctness knob: any cap yields exactly the pairs whose grams are
    * shared by <= cap docs. The gate entry uses [[DefaultPassageCap]]. */
  def sharedPassagesCapped(s: SparkSession, dir: String,
      cap: Int = DefaultPassageCap): org.apache.spark.sql.DataFrame =
    passagePairs(passageIndex(s, Tables.documents(s, dir)),
      maxPosting = Some(cap))

  /** Default cap for d12: generous for true shared passages (a passage
    * shared by 64 docs is still a meaningful near-dup family) while
    * bounding any single gram's pair fan-out to C(64,2) ≈ 2k. */
  val DefaultPassageCap = 64

  /** d11/d12 stage 1 — the stride-1 K-gram inverted index: (g, ds) with
    * `ds` the sorted distinct doc ids containing gram `g`, |ds| >= 2.
    * Factored out so the round-8 soak runs the REAL pipeline stage over
    * its boilerplate-injected corpora and reads posting-size histograms
    * off the same DataFrame the gate queries consume. */
  private[graft] def passageIndex(s: SparkSession, docs: org.apache.spark.sql.DataFrame,
      k: Int = 40): org.apache.spark.sql.DataFrame = {
    // same pre-amplification spread as [[shingles]]: the doc table is
    // row-light but the stride-1 explode is ~260× CPU-heavy, and a
    // compact source pins all of it on one task (measured 6.0s → 1.25s
    // at sf0.1; numbered repartition so AQE can't coalesce the tiny
    // pre-explode rows back together)
    val spread = docs
      .filter(length(col("text")) >= k)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val grams = spread
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, length(text) - ${k - 1}), i -> substring(text, i, $k))")).as("g"))
    // collect_set dedupes (doc, gram) repeats inside the ONE posting-list
    // aggregate — a per-doc array_distinct before the explode costs O(L²)
    // 40-char comparisons per doc and measured 4× slower end-to-end
    grams.groupBy(col("g"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
  }

  /** d11/d12 stage 2 — co-occurring pairs from the inverted index, with
    * the optional posting-size cap applied BEFORE the pair explode (the
    * whole point: a capped gram never amplifies). */
  private[graft] def passagePairs(inv: org.apache.spark.sql.DataFrame,
      maxPosting: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val kept = maxPosting.map(c => inv.filter(size(col("ds")) <= c)).getOrElse(inv)
    kept.select(explode(orderedPairs("ds")).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d14: directional n-gram CONTAINMENT — |A∩B| / |A| per ordered doc
    * pair, the quote/subset-duplication signal symmetric Jaccard (d04)
    * misses: a short doc fully embedded in a long one has low Jaccard
    * (union is dominated by the long doc) but containment 1.0 from the
    * short side. The curation use is one-sided: drop or down-weight the
    * CONTAINED doc, keep the container.
    *
    * Plan: identical pair space to d04 — one shingle explode, inverted-
    * index posting lists, one (a,b)-keyed count agg — then BOTH
    * directions are emitted from the single unordered pair row (an
    * in-row array explode, no second join, no second shuffle), so the
    * directional listing costs exactly one extra projection over d04.
    */
  val d14_containment: Q = (s, dir) => containmentPairs(s, dir, maxPosting = None)

  /** d15: d14 under d12's posting-size cap — a shingle shared by more
    * than `cap` docs (boilerplate) is dropped BEFORE the pair explode,
    * the declared approximation that turns the exact listing's hot-gram
    * quadratic tail (probe-measured: d14's uncapped explode exhausts an
    * 8 GiB driver at 10× on a 31-word vocab corpus) into Σ min(|p|,cap)²
    * growth. Denominators stay the FULL per-doc shingle counts, so a
    * capped containment only ever under-reports — it can't promote a
    * pair above threshold that the exact listing wouldn't emit. */
  def cappedContainment(s: SparkSession, dir: String,
      cap: Int = DefaultPassageCap): DataFrame =
    containmentPairs(s, dir, maxPosting = Some(cap))

  val d15_containment_capped: Q = (s, dir) => cappedContainment(s, dir)

  /** Same join-free shape as [[jaccardPairsFrom]] (n rides the posting
    * struct); the 10× probe run on THIS operator is what surfaced the
    * planner's pair-side broadcast (8 GiB cap hit at 50k docs). The cap
    * filter applies to the posting BEFORE the explode; denominators are
    * the full per-doc counts carried from the shingle projection. */
  private def containmentPairs(s: SparkSession, dir: String,
      maxPosting: Option[Int]): DataFrame = {
    val sh = shingles(Tables.documents(s, dir))
    pairCounts(invertedPostings(sh, maxPosting))
      .select(explode(array(
        struct(col("doc_a").as("contained"), col("doc_b").as("container"),
          (floor(col("inter") / col("na") * 10000 + 0.5) / 10000).as("containment")),
        struct(col("doc_b").as("contained"), col("doc_a").as("container"),
          (floor(col("inter") / col("nb") * 10000 + 0.5) / 10000).as("containment")))).as("e"))
      .select(col("e.contained").as("contained"), col("e.container").as("container"),
        col("e.containment").as("containment"))
      .filter(col("containment") >= 0.8)
      .orderBy(col("contained"), col("container"))
  }

  /** d16: FUZZY vocabulary matching — levenshtein ≤ 2 pairs over the
    * corpus's distinct-token table with corpus frequencies attached, the
    * typo-candidate listing a text pipeline uses for vocabulary
    * normalization (typos are rare tokens within small edit distance of
    * a frequent correction — the frequency asymmetry is in the output).
    *
    * Blocking: edit distance ≤ 2 bounds |len(a) − len(b)| ≤ 2, so the
    * shorter-side token keys the join and the longer side explodes to
    * its three candidate length buckets — each qualifying pair joins
    * exactly once (at key len(a), with (len, token) ordering as the
    * dedup tiebreak). The pair space is VOCABULARY², already
    * length-blocked; vocabulary grows sublinearly in corpus size
    * (Heaps' law), and the expensive `levenshtein` only runs on
    * length-compatible candidates. All shuffles key on token/length —
    * corpus rows are combined map-side in the first aggregate.
    */
  val d16_fuzzy_vocab: Q = (s, dir) => {
    val vocab = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .withColumn("len", length(col("tok")))
      // both join sides project THIS aggregate — cut it once (the d06
      // lesson: a self-join otherwise re-runs the post-exchange final
      // aggregate per probe side); vocabulary-sized, so the cut is free
      .localCheckpoint()
    val a = vocab.select(col("tok").as("tok_a"), col("n").as("na"), col("len").as("la"))
    val b = vocab.select(col("tok").as("tok_b"), col("n").as("nb"), col("len").as("lb"))
      .withColumn("bkt", explode(array(col("lb") - 2, col("lb") - 1, col("lb"))))
    a.join(b, col("la") === col("bkt") &&
        (col("la") < col("lb") || (col("la") === col("lb") && col("tok_a") < col("tok_b"))))
      .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")))
      .filter(col("dist") <= 2)
      .select(col("tok_a"), col("tok_b"), col("dist"), col("na"), col("nb"))
      .orderBy(col("tok_a"), col("tok_b"))
  }

  /** SQL fragment: the ≤1-deletion neighborhood of `x` (one variant per
    * deleted position; empty-safe). Composable — d17 nests it for the
    * ≤2-deletion neighborhood. */
  private def dels(x: String): String =
    s"if(length($x) = 0, array(), transform(sequence(1, length($x)), " +
      s"i -> concat(substr($x, 1, i - 1), substr($x, i + 1))))"

  /** d17: d16's fuzzy vocabulary matching with DELETION-NEIGHBORHOOD
    * blocking (SymSpell): each token emits its ≤2-deletion variants as
    * join keys; candidate pairs form only within identical-variant
    * buckets. LOSSLESS for edit distance ≤ 2 — an alignment with k ≤ 2
    * ops yields a common subsequence reachable by ≤ k deletions from
    * each side (a substitution deletes one char from each string, an
    * insert/delete one from one side), so every lev ≤ 2 pair shares a
    * variant. The bucket join over-generates (shared variant only bounds
    * lev ≤ 4), so the exact `levenshtein` still gates every candidate —
    * same filter, same oracle as d16.
    *
    * 100 TB story (vs d16's within-length-bucket ALL-PAIRS, Σ|V_len|²):
    * a token's candidates are its ~C(len,≤2) variant buckets' occupants
    * — local neighborhoods, not whole length classes — so candidate
    * count grows ~linearly in vocabulary while d16's grows
    * quadratically (probe-measured in SOAK_r10.json).
    * Variant generation is O(len²) rows per token through codegen'd
    * array ops; every shuffle keys on the variant string and the hot
    * (short) variants' buckets are bounded by the short-token
    * vocabulary itself.
    */
  val d17_fuzzy_vocab_blocked: Q = (s, dir) => {
    val vocab = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .withColumn("len", length(col("tok")))
    // ≤2-deletion neighborhood as distinct join keys (self + 1-del + 2-del)
    val neigh = expr(s"array_distinct(concat(array(tok), ${dels("tok")}, " +
      s"flatten(transform(${dels("tok")}, y -> ${dels("y")}))))")
    val keyed = vocab.select(explode(neigh).as("v"),
      struct(col("len"), col("tok"), col("n")).as("e"))
    // variant buckets → sorted postings → ordered pairs; struct sort is
    // (len, tok)-major, exactly d16's (shorter-first, lexicographic tie)
    // pair orientation. Buckets here are LOCAL neighborhoods (tiny), so
    // the interpreted struct-array sort d04 had to avoid is irrelevant.
    val pairs = keyed.groupBy(col("v")).agg(collect_set(col("e")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(sort_array(col("ts")).as("ts"))
      .select(explode(orderedPairs("ts")).as("p"))
      .select(col("p.a.tok").as("tok_a"), col("p.b.tok").as("tok_b"),
        col("p.a.n").as("na"), col("p.b.n").as("nb"))
      .distinct() // a pair may share many variants; one levenshtein each
    pairs
      .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")))
      .filter(col("dist") <= 2)
      .select(col("tok_a"), col("tok_b"), col("dist"), col("na"), col("nb"))
      .orderBy(col("tok_a"), col("tok_b"))
  }

  val all: Map[String, Q] = Map(
    "d16_fuzzy_vocab" -> d16_fuzzy_vocab,
    "d17_fuzzy_vocab_blocked" -> d17_fuzzy_vocab_blocked,
    "d15_containment_capped" -> d15_containment_capped,
    "d14_containment" -> d14_containment,
    "d01_dedup_exact" -> d01_dedup_exact,
    "d02_minhash_lsh" -> d02_minhash_lsh,
    "d03_simhash" -> d03_simhash,
    "d04_ngram_jaccard" -> d04_ngram_jaccard,
    "d11_shared_passages" -> d11_shared_passages,
    "d12_shared_passages_capped" -> d12_shared_passages_capped,
    "d06_simhash_pairs" -> d06_simhash_pairs,
    "d07_dedup_clusters" -> d07_dedup_clusters,
    "d08_lsh_recall" -> d08_lsh_recall,
    "d09_simhash64_pairs" -> d09_simhash64_pairs,
    "d13_simhash64_capped" -> d13_simhash64_capped,
  )
}
