package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix-array construction over the token stream of a
  * document corpus, by prefix doubling (Manber–Myers 1990; the sort/join
  * recurrence is the standard bulk-synchronous formulation). The suffix
  * array is the exact-substring dedup index: "Deduplicating Training
  * Data Makes Language Models Better" (Lee et al. 2021) builds exactly
  * this structure to find every substring of ≥ L tokens that occurs
  * twice anywhere in the corpus — the granularity the sliding-gram
  * matcher ([[Dedup.dupSpans]]) approximates with a fixed gram width,
  * the suffix array answers for ALL widths at once: SA-adjacent
  * suffixes + LCP enumerate every maximal repeat without an L-sweep.
  *
  * Suffixes are doc-local (token `off` to end of doc; repeats never
  * phantom-cross document boundaries) but ranked GLOBALLY across the
  * corpus, so cross-document repeats land adjacent. Out-of-range
  * positions rank 0 — below every real token — which is the shared
  * end-sentinel: a suffix that is a proper prefix of another sorts
  * first. Exactly-equal suffixes of different docs share a rank (the
  * rank is DENSE over full-suffix equivalence classes); the adjacency
  * pass breaks those ties (doc, off) ascending.
  *
  * Scale shape: no global single-partition sort anywhere. Per RADIX-4
  * round: the three rank shifts are WINDOW LEADS over the checkpointed
  * doc-partitioned level (offsets are dense per doc, so rank(off+i·k) ≡
  * lead(rank, i·k) — zero joins, zero exchanges; r13, formerly three
  * (doc, off)-keyed self-joins that Spark ≥3.3 re-exchanged per shift),
  * then the
  * (rank, rank₊ₖ, rank₊₂ₖ, rank₊₃ₖ) tuples are dense-numbered in place
  * by [[denseNumberDenseCounted]] (ONE arithmetic-bucket hash exchange —
  * the leading key is the previous round's dense rank, so bucket =
  * ⌊(rank−1)·nb/classes⌋ replaces the generic form's sampled range
  * exchange + window re-exchange — then a per-bucket window and a
  * bucket-count-row cumulated base broadcast, the [[Corpus.packGlobal]]
  * prefix-sum shape; dense_rank absorbs duplicates, so no distinct
  * pass). Radix 4 over the classic radix-2
  * recurrence trades 2 cheap window leads per round for HALF the
  * numbering rounds (a numbering = exchange + window + materialization +
  * bases pass costs far more than a lead). Rounds are log₄(longest repeated
  * span), not log of corpus size: the loop exits as soon as every rank
  * class is a single suffix. Lineage is cut per round like the
  * [[Graph]] loops.
  *
  * Token-order equivalence assumption (shared with the DuckDB twin):
  * ranking compares token SEQUENCES; the oracle compares suffixes
  * joined with ' ' and terminated by chr(1). The two orders agree when
  * token bytes are all > 0x20 (true for whitespace-split text without
  * control characters) — first differing byte decides both, and the
  * prefix-token case resolves separator-vs-continuation in the same
  * direction.
  */
object SuffixArray {

  /** Order-preserving distributed dense numbering: `outCol` = the
    * 1-based dense rank of `keys` (lexicographic over the list) across
    * the whole frame. Range repartition co-locates equal keys and
    * orders partitions, a per-partition window ranks locally, and the
    * partition bases come from one deliberately-tiny cumulated window
    * broadcast back — never a global single-partition sort.
    */
  private[graft] def denseNumber(df: DataFrame, keys: Seq[Column],
      outCol: String, buckets: Int): DataFrame =
    denseNumberCounted(df, keys, outCol, buckets)._1

  /** [[denseNumberCounted]] for inputs whose FIRST sort key is already a
    * dense 1-based long rank with a known class count `primaryClasses` —
    * the construction loop's case, where each round re-numbers tuples
    * headed by the previous round's dense rank. The bucket is then pure
    * arithmetic, `(primary−1)·nb div primaryClasses`, instead of a sampled
    * range exchange, which removes TWO per-round costs of the generic
    * form (bench §r13, guide §2.4):
    *
    *  1. the RangePartitioner's boundary-sampling pass, which EXECUTES the
    *     un-materialized input subtree once before the real exchange runs
    *     it again — in the construction loop that subtree is the round's
    *     whole 3-join rank-shift chain;
    *  2. the window's second corpus-sized Exchange: the generic form
    *     windows by `spark_partition_id()`, which Catalyst cannot tie to
    *     the range partitioning, so it re-clusters; here the data is
    *     hash-repartitioned ON `_dnP` itself, so the window's
    *     ClusteredDistribution(_dnP) is satisfied by construction — ONE
    *     exchange total (plan-pinned in PlanShapeSpec).
    *
    * Order preservation (what makes the result IDENTICAL to the range
    * form): bucket = ⌊(primary−1)·nb/C⌋ is monotone in `primary` and
    * never splits a primary value, and `primary` heads the lexicographic
    * key order, so tuple_a < tuple_b ⟹ bucket_a ≤ bucket_b and equal
    * tuples share a bucket; cumulating per-bucket dense-class counts in
    * bucket order therefore yields the same global dense rank. Buckets
    * are 8× finer than the partition count because hashing bucket ids
    * into partitions is balls-into-bins — finer buckets smooth the
    * per-partition load that a 1:1 assignment would leave ~37% idle.
    */
  /** `keep` (dense form only): project the staged frame down to these
    * columns (plus the numbering internals) BEFORE the checkpoint — the
    * sort keys are dead once the local dense rank is computed, and the
    * construction loop's radix tuples would otherwise materialize
    * radix+1 corpus-sized long columns per round that nothing reads
    * back (guide §2.3: shuffle/materialize fewer bytes). Empty = keep
    * every input column (the generic contract).
    */
  private[graft] def denseNumberDenseCounted(df: DataFrame, primary: Column,
      primaryClasses: Long, keys: Seq[Column], outCol: String,
      buckets: Int, keep: Seq[Column] = Nil): (DataFrame, Long) =
    denseNumberCounted(df, keys, outCol, buckets,
      densePrimary = Some((primary, primaryClasses)), keep = keep)

  /** The pre-checkpoint stage of the dense-primary numbering (bucket
    * column + local dense rank) — extracted so PlanShapeSpec can pin the
    * one-exchange shape on the real code path (the checkpoint truncates
    * the composed operator's visible plan).
    */
  private[graft] def denseNumberDenseLocal(df: DataFrame, primary: Column,
      primaryClasses: Long, keys: Seq[Column], buckets: Int): DataFrame = {
    val c = math.max(primaryClasses, 1L)
    // nb is additionally clamped so (c−1)·nb can never overflow Long
    // (r13 advisory): at 100 TB scale c is corpus-position-sized (~1e12)
    // and an unclamped 8·buckets could push the product past 2^63,
    // wrapping negative and silently breaking bucket monotonicity. The
    // clamp only coarsens bucket granularity when c·buckets approaches
    // 2^63 — ordering is unaffected (bucket = ⌊(primary−1)·nb/c⌋ stays
    // monotone for any nb ≥ 1).
    val nb = math.max(math.min(math.min(8L * buckets, c), Long.MaxValue / c), 1L)
    // integer div, NOT `/` (which is a double divide and loses exactness
    // past 2^53 — reachable by rank·nb at corpus scale)
    df.withColumn("_dnW", (primary.cast("long") - lit(1L)) * lit(nb))
      .withColumn("_dnP", expr(s"_dnW div ${c}L").cast("int"))
      .drop("_dnW")
      .repartition(buckets, col("_dnP"))
      .withColumn("_dnL", dense_rank().over(
        Window.partitionBy(col("_dnP")).orderBy(keys: _*)).cast("long"))
  }

  /** [[denseNumber]] plus the total class count (the global max of
    * `outCol`). The count falls out of the partition-bases pass the
    * numbering already runs — per-partition class counts are ≤ `buckets`
    * rows, so they are collected, cumulated on the driver, and joined
    * back as a literal broadcast frame. Loop callers that gate on "every
    * class is a singleton" ([[suffixRanksAll]]) get the convergence
    * check for free instead of re-scanning the numbered output.
    * `densePrimary` and `keep` are the [[denseNumberDenseCounted]] form.
    */
  private[graft] def denseNumberCounted(df: DataFrame, keys: Seq[Column],
      outCol: String, buckets: Int,
      densePrimary: Option[(Column, Long)] = None,
      keep: Seq[Column] = Nil): (DataFrame, Long) = {
    // materialized ONCE before fan-out: the bases collect and the
    // final join would otherwise re-evaluate the exchange, and (range
    // form) a re-sampled boundary set (the input's partition-internal
    // order is not deterministic for join outputs) would disagree with
    // the first evaluation's partition ids — misaligning every base
    // offset. Bases cumulate in _dnP order, which is the key-range order
    // in BOTH forms: range partition ids ascend with the keys, and the
    // dense-primary bucket is monotone in the leading key.
    val staged0 = densePrimary match {
      case Some((primary, c)) =>
        denseNumberDenseLocal(df, primary, c, keys, buckets)
      case None =>
        df.repartitionByRange(buckets, keys: _*)
          .withColumn("_dnP", spark_partition_id())
          .withColumn("_dnL", dense_rank().over(
            Window.partitionBy(col("_dnP")).orderBy(keys: _*)).cast("long"))
    }
    val staged = if (keep.isEmpty) staged0
      else staged0.select(keep :+ col("_dnP") :+ col("_dnL"): _*)
    val local = staged.localCheckpoint(true)
    val perPart = local.groupBy("_dnP").agg(max(col("_dnL")).as("_dnN"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val baseRows = perPart.map { case (p, nc) => val b = acc; acc += nc; (p, b) }
    val bases = df.sparkSession.createDataFrame(baseRows.toSeq)
      .toDF("_dnP", "_dnBase")
    val out = local.join(broadcast(bases), "_dnP")
      .withColumn(outCol, col("_dnBase") + col("_dnL"))
      .drop("_dnP", "_dnL", "_dnBase")
    (out, acc)
  }

  private def tokens(docs: DataFrame, id: String, text: String): DataFrame =
    docs.filter(col(text).isNotNull)
      .select(col(id).cast("long").as("doc"),
        posexplode(split(lower(col(text)), "\\s+")).as(Seq("off", "_saW")))

  /** Positions per range bucket when the caller lets the partition count
    * float (`buckets = 0`): the construction reshuffles the full position
    * frame ~log(L) times, so bucket count must scale with the corpus the
    * way a real cluster's partition count does — a fixed constant is
    * either 8× too many tasks at bench scale (pure scheduling overhead:
    * the sf0.1 corpus is 270k positions, 32-task stages on 4 cores) or
    * 1000× too few at 100 TB (spilling buckets). ~512k positions ≈ 14 MB
    * a bucket keeps tasks meaningful yet memory-trivial; the floor is the
    * scheduler's core count so small corpora still use the machine.
    */
  private def autoBuckets(n: Long, df: DataFrame): Int =
    math.max(df.sparkSession.sparkContext.defaultParallelism,
      math.min((n >> 19) + 1, 1 << 16).toInt)

  /** Suffix ranks with every intermediate level (the LCP walk needs
    * them): `levels(j)` holds (doc, off, rank) where rank is dense over
    * distinct 4^j-token prefixes; `full` is the converged table (rank
    * dense over full-suffix classes).
    */
  private[graft] final case class Ranked(full: DataFrame,
      levels: Seq[DataFrame], maxLen: Long, buckets: Int,
      nClasses: Long, positions: Long) {
    /** Prefix width of `levels(j)`. */
    def step(j: Int): Long = 1L << (2 * j)
  }

  /** Construction radix: every consumer of `Ranked.levels` (the LCP
    * walk, [[Ranked.step]]) assumes the 4^j level spacing. Radix 8 (7
    * chained shifts a round) was measured slower (NOTES.md round 8).
    */
  private val Radix = 4

  private[graft] def suffixRanksAll(docs: DataFrame, id: String,
      text: String, buckets: Int, maxPrefix: Long = Long.MaxValue): Ranked = {
    val tok = tokens(docs, id, text).localCheckpoint(true)
    val n = tok.count()
    val b = if (buckets > 0) buckets else autoBuckets(n, tok)
    val maxRow = tok.agg(max(col("off"))).head
    val maxLen = if (maxRow.isNullAt(0)) 0L else maxRow.getInt(0).toLong + 1L
    // level 0: dense rank of the token itself (vocabulary-sized sort).
    // The distinct is materialized FIRST (r14): the range form's
    // boundary-sampling pass executes its input subtree once before the
    // real exchange runs it again — un-materialized, that was one extra
    // full distinct-aggregation over the corpus token frame; checkpointed,
    // the sampling re-reads a vocabulary-sized block instead.
    val (vocab, nVocab) = denseNumberCounted(
      tok.select(col("_saW")).distinct().localCheckpoint(true),
      Seq(col("_saW")), "rank", b)
    // each level is materialized once: the shift window and the LCP walk
    // read every level at least twice, and reading checkpoint blocks
    // beats re-deriving it (measured: leaving levels lazy cost +40% at
    // sf0.1). NOT pre-partitioned or pre-sorted (r13): on this Spark a
    // localCheckpoint's LogicalRDD reports UnknownPartitioning — plan-
    // verified — so every consumer re-exchanges regardless and a
    // repartition/sort before the checkpoint is a pure extra exchange
    var cur = tok.join(vocab, Seq("_saW"))
      .select(col("doc"), col("off"), col("rank"))
      .localCheckpoint(true)
    val levels = Seq.newBuilder[DataFrame]
    levels += cur
    var k = 1L
    // ranks are DENSE, so class count == row count ⟺ every class is a
    // single suffix; the count rides denseNumberCounted's bases pass —
    // no convergence scan of the numbered frame. Level 0's class count
    // is the vocabulary size (every token distinct ⟺ already converged).
    var done = n == 0 || nVocab == n
    // the class count entering each round: ranks are dense 1..prevClasses,
    // which is what lets the round's numbering bucket arithmetically
    // (denseNumberDenseCounted) instead of paying a sampled range exchange
    var prevClasses = nVocab
    while (k < math.min(maxLen, maxPrefix) && !done) {
      // radix 4: one numbering round QUADRUPLES the agreed prefix by
      // sorting on (rank(off), rank(off+k), rank(off+2k), rank(off+3k)).
      // The numbering round (exchange + window + materialization + bases
      // pass) costs 2-3× a shift, so trading 2 extra shifts for HALF the
      // rounds wins. The shifts are WINDOW LEADS, not self-joins (r13):
      // token offsets are dense 0..len−1 per doc (posexplode), so
      // rank(off + i·k) ≡ lead(rank, i·k) over (partition doc, order
      // off) — ONE window pass computes all radix−1 shifts with zero
      // joins. The former (doc, off)-keyed self-joins were re-exchanging
      // BOTH doc-partitioned sides per shift on Spark 3.3+
      // (requireAllClusterKeysForCoPartition defaults true: subset
      // partitioning no longer counts as co-partitioned), i.e. 6
      // corpus-sized exchanges per round. The window is NOT free — cur is
      // a localCheckpoint whose LogicalRDD reports UnknownPartitioning on
      // this Spark (plan-verified, OPTIMIZATION_r13.md), so the window
      // pays ONE hash(doc) exchange per round — but one exchange replaces
      // the former six. An off-the-end lead is NULL → coalesce 0, the
      // shared end-sentinel, exactly as the left joins produced.
      val byDoc = Window.partitionBy(col("doc")).orderBy(col("off"))
      val j = cur.select(Seq(col("doc"), col("off"), col("rank")) ++
        (1 until Radix).map { i =>
          val sh = i.toLong * k
          // a shift past any real doc length can only yield the sentinel
          (if (sh <= Int.MaxValue && sh < maxLen)
            coalesce(lead(col("rank"), sh.toInt).over(byDoc), lit(0L))
          else lit(0L)).as(s"_saZ$i")
        }: _*)
      // dense-number the full frame directly — dense_rank absorbs the
      // duplicate rank tuples, so no distinct + join-back pass; the
      // leading key is the previous round's dense rank, so the bucketing
      // is arithmetic (one exchange, no boundary-sampling re-execution
      // of the join chain — see denseNumberDenseCounted).
      // keep = (doc, off): the radix sort keys are dead after the local
      // rank, so the numbering's internal materialization carries 4
      // narrow columns instead of radix+3 (r14, guide §2.3). The level
      // itself stays a CHECKPOINT: a view over the numbering's blocks
      // was measured WORSE (q_suffix_ranks 6.84 → 8.11 s isolated) —
      // the construction reads each level ≥ 2× (shift window + next
      // numbering) and the walk ~6×, so re-paying the bases broadcast
      // join + project per read costs more than the narrow second write
      val (numbered, classes) = denseNumberDenseCounted(j,
        col("rank"), prevClasses,
        col("rank") +: (1 until Radix).map(i => col(s"_saZ$i")),
        "_saNew", b, keep = Seq(col("doc"), col("off")))
      cur = numbered
        .select(col("doc"), col("off"), col("_saNew").as("rank"))
        .localCheckpoint(true)
      levels += cur
      k *= Radix
      prevClasses = classes
      done = classes == n
    }
    Ranked(cur, levels.result(), maxLen, b, prevClasses, n)
  }

  /** (doc_id, off, srank): the global rank of the suffix of `doc_id`
    * starting at token `off` (0-based), 1-based DENSE over full-suffix
    * equivalence classes in corpus-wide lexicographic token order.
    */
  def suffixRanks(docs: DataFrame, id: String, text: String,
      buckets: Int = 0): DataFrame =
    suffixRanksAll(docs, id, text, buckets).full
      .select(col("doc").as("doc_id"), col("off").cast("long").as("off"),
        col("rank").as("srank"))

  /** Position count at which [[repeatedSpans]]' LCP walk switches to
    * the lead form (default 2^20).
    */
  val WalkLeadConf = "spark.graft.sa.walkLeadMinPositions"

  /** Every maximal repeated token span of length ≥ `minLen`, reported as
    * SA-adjacent suffix pairs with their EXACT token-level LCP:
    * (doc_a, off_a, doc_b, off_b, lcp). Adjacency
    * (not all-pairs) is the suffix-array economy: a phrase occurring m
    * times yields m−1 adjacent rows, never m², yet every repeated region
    * is witnessed. Ties between exactly-equal suffixes order (doc, off)
    * ascending.
    *
    * The LCP of an adjacent pair is the classic descending refinement
    * walk over the construction's own level tables, generalized to the
    * radix-4 recurrence: at level j (window 4^j), extend the agreed
    * prefix by 4^j up to three times while the level-j ranks at the
    * current agreed length match (remaining LCP entering level j is
    * < 4^(j+1), and 3·4^j plus the lower levels' 4^j−1 covers exactly
    * that) — O(log cap) co-partitioned joins over the adjacent-pair
    * frame, no token rescan. One correction the shared end-sentinel
    * forces: equal suffixes SHORTER than a level's window still share
    * that level's rank (their aligned out-of-range padding matches), so
    * the walk can overshoot past end-of-doc — but an overshooting
    * extension implies the suffixes are equal from the agreed point on,
    * so capping at the remaining suffix lengths
    * (`least(walk, len_a, len_b)`) restores the exact LCP in every
    * case.
    */
  def repeatedSpans(docs: DataFrame, id: String, text: String,
      minLen: Int, buckets: Int = 0): DataFrame = {
    require(minLen >= 1, s"need minLen >= 1, got $minLen")
    // parsed before the construction so a malformed value fails fast
    val leadThreshold = docs.sparkSession.conf
      .getOption(WalkLeadConf).map { v =>
        v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"$WalkLeadConf must be a whole number of positions, got '$v'"))
      }.getOrElse(1L << 20)
    val ranked = suffixRanksAll(docs, id, text, buckets)
    // prefilter: lcp ≥ minLen forces the composed minLen-token windows
    // equal, witnessed by level-jPre ranks at offsets covering
    // [0, minLen) (the windowClassKeys composition — necessary, and for
    // ≤ 4 covering keys exact). Pairs failing it can never pass the
    // minLen gate, so only genuinely-repeated pairs enter the level
    // joins instead of one pair per corpus position.
    val jPre = math.min(
      (63 - java.lang.Long.numberOfLeadingZeros(minLen.toLong)) / 2,
      ranked.levels.size - 1).toInt
    val sPre = 1L << (2 * jPre)
    val preOffs = ((0L until 3L).map(_ * sPre).filter(_ < minLen - sPre)
      :+ (minLen - sPre)).distinct
    // covering level-jPre ranks via window leads over the level (the r13
    // dense-offset rewrite — zero per-offset joins); an offset falling
    // off the doc leads to NULL, which the adjacency filter treats as
    // can't-qualify (a suffix shorter than minLen can never carry an
    // lcp ≥ minLen pair)
    val leadW = Window.partitionBy(col("doc")).orderBy(col("off"))
    val preKeys = ranked.levels(jPre).select(
      Seq(col("doc"), col("off")) ++
        preOffs.zipWithIndex.map { case (o, i) =>
          (if (o == 0L) col("rank")
          else lead(col("rank"), o.toInt).over(leadW)).as(s"_saJ$i")
        }: _*)
    // total order: all (rank, doc, off) triples are distinct, so the
    // dense numbering is the SA position permutation; ranks are dense
    // 1..nClasses from construction, so the arithmetic bucketing applies.
    // ONE (doc, off) join attaches the covering keys (both frames hold
    // exactly one row per position)
    val pos = denseNumberDenseCounted(ranked.full, col("rank"),
        ranked.nClasses,
        Seq(col("rank"), col("doc"), col("off")), "_saPos",
        ranked.buckets, keep = Seq(col("doc"), col("off")))._1
      .join(preKeys, Seq("doc", "off"), "left")
      .localCheckpoint(true)
    val jCols = preOffs.indices.map(i => s"_saJ$i")
    val adj = pos.select((Seq(col("doc").as("doc_a"),
        col("off").as("off_a"), col("_saPos")) ++
        jCols.map(c => col(c).as(c + "a"))): _*)
      .join(pos.select((Seq(col("doc").as("doc_b"), col("off").as("off_b"),
        (col("_saPos") - 1).as("_saPos")) ++
        jCols.map(c => col(c).as(c + "b"))): _*),
        Seq("_saPos"))
      .filter(jCols.map(c => col(c + "a") === col(c + "b"))
        .reduce(_ && _))
      .drop(jCols.flatMap(c => Seq(c + "a", c + "b")): _*)
      .withColumn("lcp", lit(0L))
    // walk levels high→low, skipping steps no real LCP can reach
    // (step > maxLen); per level up to 3 probes, fewer when maxLen
    // bounds the extensions a level can contribute. The bounds use
    // maxLen, NOT maxLen−1: a fully-equal suffix pair has lcp = its
    // length, which can reach maxLen exactly — with maxLen a radix
    // power the capacity of the strictly-below levels is maxLen−1 and
    // the walk under-reported the full-doc tie by one (caught by the
    // equal-docs-at-power-lengths regression case; with the maxLen
    // bounds, capacity = ⌊maxLen/4^T⌋·4^T + 4^T − 1 ≥ maxLen always)
    // the walk reads the construction's levels directly, and the probes
    // stay sort-merge joins. Measured and REJECTED variants:
    //  - (r13) (doc, off)-re-keyed sorted walk copies — which would let
    //    every probe SMJ skip the level-side exchange+sort — cost 4
    //    extra corpus-sized materializations and read repeated_spans
    //    12.6 → 16-18 s at sf0.1; the probe joins' level-side exchanges
    //    are deduped by ReusedExchange within the one walk query.
    //  - (r14, the verdict's bigger-SF re-probe) SHUFFLE_HASH hints on
    //    the level sides — the idea being the pair frame (whose key
    //    off+lcp changes per probe, so its sort is never reusable)
    //    would stream with no sort while the level side hash-builds.
    //    REJECTED at BOTH scale points, back-to-back min_of_2:
    //    sf0.1 ~12 → 16.1 s, 10× scale10 46.8 → 55.7 s. The level-side
    //    hash build per probe (rebuilt per probe — only exchanges are
    //    reused, not hash relations) costs more than the sorts it
    //    saves. The walk-copies crossover question is settled the same
    //    way: the level side is NOT the bottleneck; the pair-side
    //    per-probe re-sort is inherent to the changing key.
    // The per-level extension runs in one of two MEASURED-equivalent
    // shapes, picked by corpus size (r14; both spec-pinned against brute
    // force, crossover measured back-to-back min_of_2 at both SFs):
    //
    //  - LEAD form (big corpora): probe i of a level compares the level
    //    ranks at offset off+lcp+i·step ≡ lead(rank, i·step) over the
    //    doc-dense offsets — the same identity the construction shifts
    //    ride — so ONE join per level and side replaces the ~3
    //    sequential probe SMJs, and the sequential probes are EXACTLY
    //    the consecutive-match count (after a failed probe the remaining
    //    probes of that level re-join at the unchanged lcp and
    //    deterministically fail the same comparison). 10× scale10:
    //    50.8 → 43.2 s (1.17×) — the walk is stage-latency-bound there,
    //    so the 2 saved driver-sequenced stages per level dominate.
    //  - SEQUENTIAL form (small corpora): the lead form's two full-level
    //    window sorts per level cost more than the saved stages when the
    //    level fits a few tasks — sf0.1: 11.9 → 13.5 s the wrong way.
    //
    // The switch is input-derived (positions ≥ ~1M ⇒ lead), overridable
    // via [[WalkLeadConf]] for tests/deployments; at
    // the 100 TB target the lead form is always selected.
    val useLead = ranked.positions >= leadThreshold
    val walked = ranked.levels.zipWithIndex
      .filter { case (_, j) => (1L << (2 * j)) <= math.max(ranked.maxLen, 1L) }
      .reverse
      .foldLeft(adj) { case (c0, (lvl, j)) =>
        val step = 1L << (2 * j)
        val probes = math.min(3L, math.max(ranked.maxLen, 1L) / step).toInt
        if (useLead) {
          val leadW = Window.partitionBy(col("doc")).orderBy(col("off"))
          def sided(side: String) = lvl.select(
            Seq(col("doc").as(s"doc_$side"), col("off").as(s"_saO$side")) ++
              (0 until probes).map { i =>
                val sh = i.toLong * step
                // a shift past any real doc can only miss: NULL, like
                // the former off-the-end join miss
                (if (sh == 0L) col("rank")
                else if (sh <= Int.MaxValue && sh < ranked.maxLen)
                  lead(col("rank"), sh.toInt).over(leadW)
                else lit(null).cast("long")).as(s"_saR$side$i")
              }: _*)
          def m(i: Int): Column =
            col(s"_saRa$i").isNotNull && col(s"_saRa$i") === col(s"_saRb$i")
          def ext(i: Int): Column =
            if (i >= probes) lit(0L)
            else when(m(i), lit(1L) + ext(i + 1)).otherwise(lit(0L))
          c0.withColumn("_saOa", (col("off_a") + col("lcp")).cast("int"))
            .join(sided("a"), Seq("doc_a", "_saOa"), "left")
            .withColumn("_saOb", (col("off_b") + col("lcp")).cast("int"))
            .join(sided("b"), Seq("doc_b", "_saOb"), "left")
            .withColumn("lcp", col("lcp") + lit(step) * ext(0))
            .drop(Seq("_saOa", "_saOb") ++
              (0 until probes).flatMap(i => Seq(s"_saRa$i", s"_saRb$i")): _*)
        } else {
          val ra = lvl.select(col("doc").as("doc_a"),
            col("off").as("_saOa"), col("rank").as("_saRa"))
          val rb = lvl.select(col("doc").as("doc_b"),
            col("off").as("_saOb"), col("rank").as("_saRb"))
          (1 to probes).foldLeft(c0) { (c, _) =>
            c.withColumn("_saOa", (col("off_a") + col("lcp")).cast("int"))
              .join(ra, Seq("doc_a", "_saOa"), "left")
              .withColumn("_saOb", (col("off_b") + col("lcp")).cast("int"))
              .join(rb, Seq("doc_b", "_saOb"), "left")
              .withColumn("lcp", when(
                col("_saRa").isNotNull && col("_saRa") === col("_saRb"),
                col("lcp") + lit(step)).otherwise(col("lcp")))
              .drop("_saOa", "_saOb", "_saRa", "_saRb")
          }
        }
      }
    val docLen = docLens(ranked)
    walked
      .join(docLen.select(col("doc").as("doc_a"), col("_saLen").as("_saLa")),
        Seq("doc_a"))
      .join(docLen.select(col("doc").as("doc_b"), col("_saLen").as("_saLb")),
        Seq("doc_b"))
      .withColumn("lcp", least(col("lcp"),
        col("_saLa") - col("off_a"), col("_saLb") - col("off_b")))
      .filter(col("lcp") >= minLen)
      .select(col("doc_a"), col("off_a").cast("long").as("off_a"),
        col("doc_b"), col("off_b").cast("long").as("off_b"), col("lcp"))
  }

  private def docLens(ranked: Ranked): DataFrame =
    ranked.full.groupBy(col("doc"))
      .agg((max(col("off")) + 1).cast("long").as("_saLen"))

  /** Cross-corpus verbatim-window decontamination on the suffix-array
    * index (the Lee et al. 2021 use: which `windowLen`-token test
    * windows appear verbatim anywhere in training data?). Each
    * position's window class is the O(1) covering composition over the
    * construction's own level tables — ⌈L/4^j⌉ ≤ 4 level-j ranks at
    * offsets covering [0, L), `j = min(⌊log₄L⌋, top)` — a ≤ 32-byte key
    * tuple whose equality ⟺ the L-token windows are identical, so the
    * cross-corpus equi-join ships ≤ 32 bytes per position where an
    * L-gram explode ships L-token strings. When the
    * construction converged below ⌊log₄L⌋, every 4^top window is
    * already unique, so no two positions can share any longer window
    * either — the capped keys still join to exactly the true (empty)
    * match set.
    *
    * Train positions collapse to one row per window class (count +
    * lexicographically-least witness) BEFORE the join, so a boilerplate
    * window shared by thousands of train docs costs one row, never a
    * fanout. Output per contaminated test window: (doc_id, off,
    * n_train, train_doc, train_off).
    */
  /** (doc, off, _saC1, _saC2) for every position with ≥ `windowLen`
    * tokens remaining: the covering level-⌊log₄L⌋ rank tuple whose
    * equality ⟺ the L-token windows are identical (construction cut at
    * ⌈log₄L⌉ rounds via maxPrefix; the early-convergence cap is argued
    * at [[contaminatedSpans]]).
    */
  private def windowClassKeys(docs: DataFrame, id: String, text: String,
      windowLen: Int, buckets: Int): DataFrame = {
    val jWant =
      (63 - java.lang.Long.numberOfLeadingZeros(windowLen.toLong)) / 2
    val wantPrefix = 1L << (2 * jWant)
    val ranked = suffixRanksAll(docs, id, text, buckets, wantPrefix)
    require(ranked.maxLen < (1L << 20),
      s"witness packing needs docs under 2^20 tokens, got ${ranked.maxLen}")
    val jj = math.min(jWant, ranked.levels.size - 1).toInt
    val s = 1L << (2 * jj)
    // ⌈L/s⌉ level-jj ranks at offsets covering [0, L) (strides + one
    // final overlap key): tuple equality ⟺ the L-token windows are
    // identical — ≤ 4 keys at the radix-4 level spacing. The covering
    // ranks are WINDOW LEADS over the doc-partitioned level (offsets are
    // dense per doc — the same r13 rewrite as the construction shifts;
    // formerly one (doc, off)-keyed join per covering offset, each
    // re-exchanging both sides under Spark ≥3.3 co-partition rules), and
    // the doc length rides the same partitioning as an unordered count
    // window instead of a groupBy + join. For every position passing the
    // length gate all covering leads land inside the doc, so the lead
    // form equals the former inner-join form row for row.
    val m = ((windowLen + s - 1) / s).toInt
    val offs = ((0 until m - 1).map(_.toLong * s) :+ (windowLen - s)).distinct
    val lvl = ranked.levels(jj)
    val leadW = Window.partitionBy(col("doc")).orderBy(col("off"))
    // the doc length rides the SAME window spec (full-partition frame),
    // so Spark plans ONE WindowExec per side instead of two
    lvl.select(Seq(col("doc"), col("off"),
        count(lit(1)).over(leadW.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing))
          .as("_saLen")) ++
        offs.zipWithIndex.map { case (o, i) =>
          (if (o == 0L) col("rank")
          else lead(col("rank"), o.toInt).over(leadW)).as(s"_saK$i")
        }: _*)
      .filter(col("off") + lit(windowLen.toLong) <= col("_saLen"))
      .withColumn("_saCk", struct(offs.indices.map(i => col(s"_saK$i")): _*))
      .select(col("doc"), col("off"), col("_saCk"))
      // every caller (keep-first, contamination, ∞-gram) consumes the
      // class keys TWICE (class agg + position side), and only the
      // exchange below the window is reusable — un-materialized, the
      // sort + WindowExec + lead pass ran once per consumer (r14). The
      // checkpoint is ≤ (doc, off, 4 longs) per qualifying position.
      .localCheckpoint(true)
  }

  /** Keep-first exact-substring dedup apply — the Lee et al. 2021
    * removal policy, vs [[Dedup.stripDupSpans]] which cuts EVERY
    * occurrence: each repeated `windowLen`-token window keeps its
    * corpus-first witness (lexicographically least (doc, off)) and every
    * LATER occurrence is cut; a token goes iff some non-witness
    * occurrence window covers it. Window identity rides the same
    * covering rank-tuple class keys as [[contaminatedSpans]] (≤ 32 bytes
    * per position through the class agg, never L-token strings); the
    * witness is the packed min over each class. Documents rebuild from surviving
    * tokens: (doc_id, kept_tokens, cleaned_md5) — the
    * [[Dedup.stripDupSpans]] output shape, so downstream wiring is
    * shared. An exact duplicate pair keeps the lower-id copy intact and
    * strips the other to its unshared remainder.
    */
  def stripRepeatedKeepFirst(docs: DataFrame, id: String, text: String,
      windowLen: Int, buckets: Int = 0): DataFrame = {
    require(windowLen >= 1, s"need windowLen >= 1, got $windowLen")
    val prepped = docs.select(col(id).cast("long").as("_saDid"),
      col(text).as("_saTxt"))
    val keys = windowClassKeys(prepped, "_saDid", "_saTxt", windowLen, buckets)
    val cls = keys.groupBy("_saCk")
      .agg(count(lit(1)).as("_saN"),
        min(col("doc") * lit(1048576L) + col("off")).as("_saWk"))
      .filter(col("_saN") >= 2)
    val cut = keys.join(cls, Seq("_saCk"))
      .filter(col("doc") * lit(1048576L) + col("off") =!= col("_saWk"))
      .groupBy(col("doc")).agg(collect_list(col("off")).as("_saCuts"))
    docs.join(cut, col(id).cast("long") === cut("doc"), "left")
      .withColumn("_saToks", split(lower(col(text)), "\\s+"))
      .withColumn("_saKept", filter(
        transform(sequence(lit(0), size(col("_saToks")) - 1),
          i => struct(i.as("p"), element_at(col("_saToks"), i + 1).as("t"))),
        s => !coalesce(exists(col("_saCuts"),
          o => s.getField("p") >= o &&
            s.getField("p") < o + lit(windowLen)), lit(false))))
      .select(col(id), size(col("_saKept")).cast("long").as("kept_tokens"),
        md5(array_join(transform(col("_saKept"), _.getField("t")), " "))
          .as("cleaned_md5"))
  }

  def contaminatedSpans(test: DataFrame, train: DataFrame, id: String,
      text: String, windowLen: Int, buckets: Int = 0): DataFrame = {
    require(windowLen >= 1, s"need windowLen >= 1, got $windowLen")
    val txt = "_saTxt"
    val lab = test.select((col(id).cast("long") * 2 + 1).as("_saDid"),
        col(text).as(txt))
      .unionByName(train.select((col(id).cast("long") * 2).as("_saDid"),
        col(text).as(txt)))
    val keys = windowClassKeys(lab, "_saDid", txt, windowLen, buckets)
    val tr = keys.filter(col("doc") % 2 === 0)
      .groupBy("_saCk")
      .agg(count(lit(1)).as("n_train"),
        min(expr("doc div 2") * lit(1048576L) + col("off")).as("_saWk"))
    keys.filter(col("doc") % 2 === 1)
      .select(expr("doc div 2").as("doc_id"),
        col("off").cast("long").as("off"), col("_saCk"))
      .join(tr, Seq("_saCk"))
      .select(col("doc_id"), col("off"), col("n_train"),
        expr("_saWk div 1048576").as("train_doc"),
        (col("_saWk") % 1048576L).as("train_off"))
  }

  /** ∞-gram continuation counts over the suffix-array index (the
    * "Infini-gram: Scaling Unbounded n-gram Language Models to a
    * Trillion Tokens" use, Liu et al. 2024: the corpus IS the n-gram
    * LM — P(next | context) read off exact occurrence counts, no model
    * trained). For each distinct `n`-token pattern, every corpus
    * occurrence is located and the token FOLLOWING each occurrence
    * tallied; output = the top-`k` continuations per pattern by count
    * (ties broken by token), i.e. (pattern, next_tok, cnt) — a document
    * ending inside the window continues with the `</s>` sentinel.
    *
    * Scale shape: pattern docs ride the [[contaminatedSpans]] union
    * (odd = pattern, even = corpus), so matching is the same ≤ 32-byte
    * covering rank-key equi-join — never an n-gram string shuffle; the
    * construction is cut at ⌈log₄ n⌉ rounds via maxPrefix. The
    * next-token attach is one narrow co-partitioned join of match
    * positions against the token explode, collapsed by a map-side
    * partial (pattern, next) count before the top-k window (partitions
    * = patterns, rows = distinct continuations — never match-sized).
    */
  def ngramContinuations(corpus: DataFrame, id: String, text: String,
      patterns: DataFrame, ptext: String, n: Int, k: Int,
      buckets: Int = 0): DataFrame = {
    require(n >= 1 && k >= 1, s"need n, k >= 1, got n=$n k=$k")
    // dense pattern ids: deterministic, and the union's doc-id packing
    // needs a numeric id regardless of what the caller keys patterns by
    val pats = denseNumber(patterns.select(col(ptext).as("_saPat")).distinct(),
      Seq(col("_saPat")), "_saPid", 32)
      .localCheckpoint(true)
    val lab = corpus.select((col(id).cast("long") * 2).as("_saDid"),
        col(text).as("_saTxt"))
      .unionByName(pats.select((col("_saPid") * 2 + 1).as("_saDid"),
        col("_saPat").as("_saTxt")))
    val keys = windowClassKeys(lab, "_saDid", "_saTxt", n, buckets)
    // a pattern doc's only full window is its own n-token prefix at
    // off 0 — longer pattern strings would match on their first n tokens
    val patKeys = keys.filter(col("doc") % 2 === 1 && col("off") === 0)
      .select(expr("doc div 2").as("_saPid"), col("_saCk"))
    val matches = keys.filter(col("doc") % 2 === 0)
      .select(expr("doc div 2").as("_saCDoc"),
        (col("off") + lit(n)).cast("int").as("_saNOff"), col("_saCk"))
      .join(patKeys, Seq("_saCk"))
    val toks = tokens(corpus, id, text)
      .select(col("doc").as("_saCDoc"), col("off").as("_saNOff"),
        col("_saW").as("_saNext"))
    val counted = matches
      .join(toks, Seq("_saCDoc", "_saNOff"), "left")
      .groupBy(col("_saPid"),
        coalesce(col("_saNext"), lit("</s>")).as("next_tok"))
      .agg(count(lit(1)).as("cnt"))
    counted
      .withColumn("_saRk", row_number().over(Window.partitionBy("_saPid")
        .orderBy(col("cnt").desc, col("next_tok"))))
      .filter(col("_saRk") <= k)
      .join(pats.select(col("_saPid"), col("_saPat").as("pattern")), Seq("_saPid"))
      .select(col("pattern"), col("next_tok"), col("cnt"))
  }
}
