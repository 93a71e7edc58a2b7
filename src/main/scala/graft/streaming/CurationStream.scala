package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{Curation, Dedup, TextOps}

/** The curated manifest's gate logic (p20) as a STRUCTURED-STREAMING job —
  * the batch/stream expression-layer unification the as-of case
  * (AsOf.asOfStream) established, applied to curation: a live crawl is
  * gated document-by-document as it lands instead of re-scanning the
  * corpus nightly.
  *
  * Every batch gate streams — the full p20 recipe, stated per gate:
  *  - quality floor: [[TextOps.qualityScore]] is a stateless per-row
  *    expression — literally the batch manifest's Column, applied to the
  *    stream unchanged.
  *  - surprisal band: corpus-global in batch (the model AND its P25/P75
  *    edges are corpus aggregates). The streaming form scores each row
  *    against a TRAINED [[TextOps.SurprisalModel]] whose band edges were
  *    frozen at training time — the CCNet deployment shape (the KenLM
  *    binary and its perplexity cuts are built offline and shipped to
  *    the workers); [[TextOps.trainAndSaveSurprisalModel]] is the train
  *    step, t21 gates its round trip.
  *  - boilerplate ceiling: corpus-global in batch (shingle document
  *    frequency). The streaming form gates against a TRAINED hot-shingle
  *    artifact ([[trainHotShingles]], run on yesterday's corpus — same
  *    convention), joined stream-static and evaluated per row.
  *  - exact-dup canonical: the one genuinely stateful gate — first-seen
  *    per normalized-text hash via keyed state. Equals the batch
  *    min-doc_id canonical exactly when each hash's docs ARRIVE in
  *    doc_id order (what an id-ordered ingest gives); within a
  *    micro-batch, rows are doc_id-sorted so intra-batch disorder is
  *    absorbed. An optional event-time horizon ([[manifest]]'s
  *    `dedupHorizonMs`) bounds the state for unbounded corpora.
  *
  * Scale shape: both trained artifacts are BOUNDED BY CONSTRUCTION — the
  * hot set is top-[[HotShingleTopK]] by document frequency and the LM
  * vocabulary is top-[[TextOps.LmVocabTopK]] by count (each a
  * TakeOrderedAndProject, so neither a boilerplate-heavy crawl nor a
  * long-tailed vocabulary can push the broadcast rows past their caps;
  * below-cap words score through the same add-one floor as unseen ones).
  * Per-executor LM residency is how CCNet ships KenLM; for models beyond
  * broadcast limits the hashed-bucket form p18/DSIR uses is the
  * fallback. Canonical state is
  * one boolean per distinct text hash within the dedup horizon; at 100 TB
  * run it on the RocksDB state store (conf-only, proven in RecoverySpec).
  */
object CurationStream {

  /** Per-row gate output (pre-canonical). `ts` is the event time carried
    * for the optional dedup horizon (null when the input has no ts
    * column and the horizon is off). `op` is the control tag: "add" for
    * a document arrival, [[OpForget]] for an erasure control record
    * (defaults to "add" when the input has no op column).
    */
  final case class GateRow(doc_id: Long, h: String, quality_score: Double,
                           bits_per_token: Double, boiler_frac: Double,
                           quality_ok: Boolean, ppl_ok: Boolean,
                           boiler_ok: Boolean, ts: java.sql.Timestamp,
                           op: String)

  /** THE DELETE-CONTROL CONVENTION (the p53 sweep's online leg, for the
    * state the sweep cannot reach): every keyed-state gate in this file
    * accepts an optional `op` STRING column on its input stream — absent
    * or "add" means a normal arrival; `op = "forget"` marks an ERASURE
    * CONTROL RECORD. A forget record carries the same payload columns as
    * an arrival (the operator still holds the data it is erasing — that
    * is why it must erase), flows through the IDENTICAL per-row
    * expressions, and therefore lands on exactly the state keys the
    * original arrival populated (same text hash, same fingerprint
    * bands, same cell assignment); there the state transition PURGES the
    * erased key's entries instead of comparing/appending, and emits
    * nothing. Within a micro-batch, rows process in (id, op) order with
    * forget AFTER add at the same id — deterministic under
    * crash-and-replay like every fold here (state commits with the
    * batch, so a replayed forget re-purges identically).
    *
    * What this does and does not promise: from the forget record's
    * batch onward the erased document can never influence a verdict —
    * never be the canonical that demotes a newcomer, never vote a pair,
    * never drop a near-duplicate vector. Rows it influenced BEFORE the
    * forget were already emitted to the sink (at-least-once append
    * semantics — output cannot be retracted); those live in the saved
    * artifacts, which is exactly [[graft.operators.Forget.rtbfSweep]]'s
    * jurisdiction. The two legs together close the erasure story: p53
    * prunes everything persisted, the forget record purges everything
    * live.
    *
    * Deliberately exempt: [[packStream]] (state is one running token
    * offset per (source, shard) — aggregate position, not per-document
    * data; un-packing a document would shift every later span, i.e. a
    * REPACK, which is an artifact-level rebuild, not a state purge) and
    * [[nearDupPairs]] (stateless — its corpus side is the saved LSH
    * index, erased by serving from the p53-pruned artifact, the
    * [[tombstoned]] serving convention).
    */
  val OpForget = "forget"

  /** The input's control tag: its `op` column, or constant "add" when
    * the stream carries none (every pre-existing caller). Public: the
    * analytics stream twins (EventWindows, AsOf, Sketches) share the
    * convention — one `op` column spelling, one default.
    */
  def opCol(df: DataFrame): Column =
    if (df.columns.contains("op")) col("op") else lit("add")

  /** Intra-batch processing rank of a control tag: forget applies AFTER
    * the same id's add (erasure effective from its own record onward).
    */
  def opRank(op: String): Int = if (op == OpForget) 1 else 0

  /** The streamed manifest row: per-gate verdicts + the final keep. */
  final case class ManifestRow(doc_id: Long, quality_score: Double,
                               bits_per_token: Double, boiler_frac: Double,
                               quality_ok: Boolean, ppl_ok: Boolean,
                               boiler_ok: Boolean, canonical: Boolean,
                               keep: Boolean)

  /** Cap on the trained hot-shingle artifact: the power-law HEAD above
    * the df cutoff is usually small, but nothing in the DATA bounds it —
    * the cap does. Top-K BY df is semantically the right truncation (the
    * hottest shingles dominate any document's boilerplate fraction), and
    * it makes the broadcast artifact bounded by construction instead of
    * by hope.
    */
  val HotShingleTopK = 10000

  /** Train step (batch, offline): the hot-shingle artifact the streaming
    * boilerplate ceiling gates against — the top-`topK` shingles BY
    * document frequency among those in more than
    * [[Dedup.BoilerplateDocFreq]] training-corpus documents (exactly the
    * set [[Dedup.boilerplateFraction]] counts as hot, capped). The
    * ORDER BY df LIMIT topK plans as TakeOrderedAndProject — each
    * partition ships only its local top-K, and the artifact can never
    * exceed topK rows whatever the corpus looks like.
    */
  def trainHotShingles(docs: DataFrame, topK: Int = HotShingleTopK): DataFrame =
    Dedup.rawShingles(docs)
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > Dedup.BoilerplateDocFreq)
      .orderBy(col("df").desc, col("g"))
      .limit(topK)
      .select(col("g"))

  /** The LM gate artifact as ONE static row: the unigram counts rolled
    * into a map column, the (n, v) totals and the frozen (lo, hi) band
    * edges. Joined stream-static through the same dummy-key equi-join as
    * the hot set; the per-row score is then a pure `aggregate` expression
    * over the token array — no streaming aggregation, no watermark, no
    * state. The map is vocabulary-sized (the model, not the corpus).
    */
  def lmGateFrame(model: TextOps.SurprisalModel): DataFrame =
    model.counts
      .agg(map_from_entries(collect_list(struct(col("t"), col("c")))).as("cnt"))
      .crossJoin(model.totals)
      .crossJoin(model.band)

  /** Stateless per-row gates over ANY (doc_id, text) frame — batch or
    * streaming micro-batch, the same Catalyst expressions either way.
    * The trained artifacts (hot-shingle set, LM map + band) arrive as one
    * collected row each through a dummy-key equi-join (stream-static
    * cross joins are unsupported; the single-row static sides broadcast).
    * The boilerplate fraction is a pure array expression — |sh ∩ hot| /
    * |sh| over the doc's DISTINCT shingles, the identical quantity
    * [[Dedup.boilerplateFraction]] computes by explode + join +
    * re-aggregate in batch. The surprisal is the same add-one unigram
    * bits-per-token t13 computes, as a fold over the token array with a
    * map lookup per token (unseen tokens take the add-one floor — the
    * [[TextOps.unigramSurprisalFromSaved]] convention for scoring
    * tomorrow's data under yesterday's model).
    */
  def gated(docs: DataFrame, hot: DataFrame,
            lm: TextOps.SurprisalModel): DataFrame = {
    val hotArr = hot.agg(collect_set(col("g")).as("hot_set"))
      .withColumn("one", lit(1))
    val lmRow = lmGateFrame(lm).withColumn("one", lit(1))
    val bits = when(size(col("w")) === 0, lit(0.0))
      .otherwise(round(
        aggregate(col("w"), lit(0.0),
          (acc, t) => acc - log2((coalesce(element_at(col("cnt"), t), lit(0L)) + 1.0)
            / (col("n") + col("v"))))
          / size(col("w")), 4))
    val ts =
      if (docs.columns.contains("ts")) col("ts")
      else lit(null).cast("timestamp")
    docs.withColumn("one", lit(1))
      .join(broadcast(hotArr), "one")
      .join(broadcast(lmRow), "one")
      // tokens MUST be materialized before shingleArray (its documented
      // contract): an inline tokens(text) tree would re-run the regex
      // split per shingle — O(tokens^2) per doc on the per-micro-batch
      // hot path (measured 3x on the batch shingle pipeline)
      .withColumn("w", TextOps.tokens(col("text")))
      .withColumn("sh", Dedup.shingleArray(col("w")))
      .select(col("doc_id"),
        ts.as("ts"),
        opCol(docs).as("op"),
        md5(lower(trim(col("text")))).as("h"),
        TextOps.qualityScore(col("text")).as("quality_score"),
        bits.as("bits_per_token"),
        when(size(col("sh")) === 0, lit(0.0))
          .otherwise(round(
            size(array_intersect(col("sh"), col("hot_set"))).cast("double")
              / size(col("sh")), 4)).as("boiler_frac"),
        col("lo"), col("hi"))
      .withColumn("quality_ok", col("quality_score") >= Curation.ManifestQualityMin)
      .withColumn("ppl_ok",
        col("bits_per_token") >= col("lo") && col("bits_per_token") <= col("hi"))
      .withColumn("boiler_ok", col("boiler_frac") <= Curation.ManifestBoilerMax)
      .drop("lo", "hi")
  }

  /** First-seen canonical per text hash: the group's min-doc_id row in the
    * first micro-batch that sees the hash is canonical; everything later
    * (same batch or any after, within the horizon) is a duplicate.
    * State is the canonical doc_id per hash, committed WITH the batch —
    * a crash-and-replay recomputes the identical verdicts (RecoverySpec's
    * at-least-once contract).
    *
    * A forget record for the CANONICAL document clears the hash's state:
    * the next arrival of that text is canonical again (the erased doc no
    * longer demotes newcomers to duplicates — its live influence ends in
    * the forget's own batch). A forget for a non-canonical doc is a
    * no-op here: a duplicate never influenced any verdict, and its
    * persisted traces are [[graft.operators.Forget.rtbfSweep]]'s job.
    * Storing the canonical's ID (not a boolean) is what makes this
    * decidable locally; the state is still one scalar per hash.
    *
    * `horizonMs` is the EVENT-TIME dedup horizon (the
    * dropDuplicatesWithinWatermark convention, applied to canonical
    * selection): every arrival re-arms an event-time timeout at the
    * ARRIVING BATCH's max event time + horizon (not the hash's lifetime
    * max — a late straggler can pull the deadline earlier, evicting
    * sooner; never below watermark + 1, and at worst that narrows the
    * re-detection window the horizon already trades away), and when the
    * watermark passes it
    * the state is evicted — the next arrival is canonical again.
    * Duplicates INSIDE the horizon are detected exactly as in the
    * unbounded mode; what the horizon trades away is only re-detection
    * across gaps longer than itself, in exchange for state bounded by
    * the hash-arrival rate × horizon instead of the corpus's lifetime
    * distinct count. Event time, not processing time, deliberately: a
    * processing-time timer forces the engine to schedule timer-check
    * batches forever (FlatMapGroupsWithStateExec requests another batch
    * unconditionally under ProcessingTimeTimeout — an AvailableNow drain
    * would never terminate), while the event-time timer fires only when
    * the watermark moves, i.e. when data arrives. The deadline is
    * clamped above the current watermark so a late straggler re-arming
    * an old hash cannot set an already-expired timer (which Spark
    * rejects).
    */
  def firstSeen(horizonMs: Option[Long])(h: String, rows: Iterator[GateRow],
                state: GroupState[Long]): Iterator[ManifestRow] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val rs = rows.toArray.sortBy(r => (r.doc_id, opRank(r.op)))
      var canonicalId: Option[Long] = state.getOption
      val out = rs.iterator.flatMap { r =>
        if (r.op == OpForget) {
          if (canonicalId.contains(r.doc_id)) canonicalId = None
          Iterator.empty
        } else {
          val canonical = canonicalId.isEmpty
          if (canonical) canonicalId = Some(r.doc_id)
          Iterator.single(ManifestRow(r.doc_id, r.quality_score,
            r.bits_per_token, r.boiler_frac,
            r.quality_ok, r.ppl_ok, r.boiler_ok, canonical,
            r.quality_ok && r.ppl_ok && r.boiler_ok && canonical))
        }
      }.toArray
      canonicalId match {
        case Some(id) =>
          state.update(id)
          horizonMs.foreach { h =>
            if (rs.nonEmpty) {
              val maxTs = rs.iterator.map(_.ts.getTime).max
              state.setTimeoutTimestamp(
                math.max(maxTs + h, state.getCurrentWatermarkMs() + 1))
            }
          }
        case None =>
          // an erased canonical leaves NO key behind (and no timer)
          if (state.exists) state.remove()
      }
      out.iterator
    }

  /** Cap on the collected stop-shingle set the streaming near-dup gate
    * subtracts per row — the [[HotShingleTopK]] argument applied to the
    * LSH stop list: its size is the power-law head above the df cutoff,
    * data-dependent and unbounded, so the per-row form takes the top-K
    * BY df (a TakeOrderedAndProject over the saved (h, df) artifact —
    * bounded by construction). Batch/stream verdict equality holds
    * whenever the true head fits the cap (pinned on the fixtures); the
    * batch path ([[graft.operators.Dedup.shardLshPairs]]) anti-joins the
    * FULL list and never collects it.
    */
  val NearDupStopTopK = 10000

  /** Streaming near-dup-of-corpus gate: each arriving document's MinHash
    * band hashes are computed PER ROW (pure array expressions over its
    * own shingles — no streaming aggregation, no state), candidates come
    * from a stream-static equi-join against the saved
    * [[graft.operators.Dedup.LshIndex]] band buckets, and each candidate
    * is verified with exact hashed-shingle Jaccard against the indexed
    * doc's postings. Emits one append-mode row per verified pair
    * (doc_id, dup_of, jaccard) — the streaming twin of d13's
    * cross-corpus pairs, and the artifact convention is the same:
    * yesterday's corpus is indexed offline, today's crawl is gated
    * against it document by document.
    *
    * Scope (documented, deliberate): WITHIN-STREAM near-dup pairs are
    * not detected here — two near-identical docs arriving today collide
    * with each other only in the next index build (exact within-stream
    * dups are [[manifest]]'s first-seen state). The shard-local df cap
    * of the batch path has no per-row form (df is a shard aggregate);
    * what the stream drops is the saved stop list, top-K-bounded.
    *
    * Scale shape: the static sides are the corpus-sized index tables
    * (band buckets; per-doc postings aggregated to one row per indexed
    * doc) joined on their own keys — never collected, never broadcast by
    * hint; only the capped stop set rides the single-row dummy-key join.
    * A pair colliding in several bands is emitted ONCE, statelessly: the
    * indexed doc's band map rides the join and the row survives only for
    * its minimal colliding band.
    */
  def nearDupPairs(docs: DataFrame, idx: Dedup.LshIndex,
                   stopTopK: Int = NearDupStopTopK): DataFrame = {
    import graft.functions.Portable
    val stopArr = idx.stop.orderBy(col("df").desc, col("h")).limit(stopTopK)
      .agg(collect_set(col("h")).as("stop_set"))
      .withColumn("one", lit(1))
    val oldSide = idx.shingles.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("ohs"), count(lit(1)).as("n"))
      .join(idx.buckets.groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(struct(col("band"), col("bh")))).as("obm")),
        "doc_id")
      .withColumnRenamed("doc_id", "old_id")
    val bands = Portable.MinHashBands
    val rows = Portable.MinHashRows
    val minCols = (0 until bands * rows).map(i =>
      array_min(transform(col("hsf"), h => Portable.minHashPerm(h, i))).as(s"h$i"))
    val bandArr = array((0 until bands).map { b =>
      md5(concat_ws(",", (0 until rows).map(r => col(s"h${b * rows + r}")): _*))
    }: _*)
    val xs = docs
      .withColumn("one", lit(1))
      .join(broadcast(stopArr), "one")
      .withColumn("w", TextOps.tokens(col("text")))
      .withColumn("hs",
        array_distinct(transform(Dedup.shingleArray(col("w")), g => Portable.hash32(g))))
      .withColumn("hsf", array_except(col("hs"), col("stop_set")))
      .filter(size(col("hsf")) > 0)
      .select(col("doc_id") +: col("hsf") +: minCols: _*)
      .withColumn("xbands", bandArr)
      .select(col("doc_id"), col("hsf"), col("xbands"),
        posexplode(col("xbands")).as(Seq("band", "bh")))
      .as("x")
    xs.join(idx.buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("doc_id"), col("hsf"), col("xbands"), col("x.band").as("band"),
        col("y.doc_id").as("old_id"))
      .join(oldSide, "old_id")
      // minimal-collision-band filter: stateless pair dedup across bands
      .filter(col("band") === 0 ||
        forall(sequence(lit(0), col("band") - 1),
          bb => element_at(col("obm"), bb) =!= element_at(col("xbands"), bb + lit(1))))
      .withColumn("inter", size(array_intersect(col("hsf"), col("ohs"))))
      .select(col("doc_id"),
        col("old_id").as("dup_of"),
        round(col("inter") * lit(1.0) / (size(col("hsf")) + col("n") - col("inter")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= Dedup.JaccardThreshold)
  }

  /** Hard bound on the collected benchmark shingle set: ~a few hundred MB
    * of broadcast at the limit. Deliberately a LOUD refusal, not a top-K
    * cap — truncating a benchmark set would hide exactly the
    * contamination the gate exists to catch (p21's no-cap rationale), so
    * an oversized benchmark must go through the batch report instead.
    */
  val BenchMaxShingles = 5000000L

  /** Streaming benchmark-decontamination gate: p21's graded contamination
    * report as a per-row expression — each arriving document's distinct
    * shingles are intersected with the TRAINED benchmark shingle set
    * ([[graft.operators.Curation.benchmarkShingles]], built offline from
    * the eval suite), emitting the same (n_shingles, n_shared,
    * overlap_frac, contaminated) row the batch report computes. The GPT-3
    * appendix-C measurement, applied at ingest time: a crawl document
    * that quotes the benchmark is flagged before it ever reaches a
    * training shard.
    *
    * Stateless: the benchmark set rides a single-row dummy-key broadcast
    * join (size-guarded against [[BenchMaxShingles]]); the per-doc
    * arithmetic is pure array expressions. CurationStreamSpec pins
    * row-for-row equality with the batch report.
    */
  def contaminationGate(docs: DataFrame, bench: DataFrame,
                        maxShingles: Long = BenchMaxShingles): DataFrame = {
    val nb = bench.count()
    require(nb <= maxShingles,
      s"benchmark shingle set has $nb entries (> $maxShingles): too " +
        "large to broadcast per row — run the batch contamination report, " +
        "or split the benchmark suite")
    val benchArr = bench.agg(collect_set(col("g")).as("bench_set"))
      .withColumn("one", lit(1))
    val n = size(col("sh")).cast("long")
    val shared = size(array_intersect(col("sh"), col("bench_set"))).cast("long")
    docs.withColumn("one", lit(1))
      .join(broadcast(benchArr), "one")
      .withColumn("w", TextOps.tokens(col("text")))
      .withColumn("sh", Dedup.shingleArray(col("w")))
      .select(col("doc_id"),
        n.as("n_shingles"),
        shared.as("n_shared"),
        when(n === 0, lit(0.0))
          .otherwise(round(shared / n, 4)).as("overlap_frac"),
        when(n === 0, lit(false))
          .otherwise(shared / n > Curation.ContaminationFracMax).as("contaminated"))
  }

  /** One (doc, band) bucket row of the streaming SimHash dedup. */
  final case class SimBucketRow(doc_id: Long, sim: Long, band: Int, bv: Long,
                                ts: java.sql.Timestamp, op: String)

  /** An emitted within-stream near-dup pair. */
  final case class SimPair(doc_id: Long, dup_of: Long, hamming: Int)

  /** WITHIN-STREAM near-duplicate detection — the actual deployment of
    * Manku, Jain & Das Sarma (WWW 2007): a crawl is deduplicated AGAINST
    * ITSELF as it arrives, with the fingerprint tables held as keyed
    * state. Each arriving doc is fingerprinted per row
    * ([[graft.operators.Dedup.simhashExpr]] — a pure fold, provably equal
    * to the batch SimHash), split into the same 4 byte-bands as d15, and
    * looked up in its band bucket's state: every stored fingerprint
    * within Hamming distance [[graft.operators.Dedup.HammingMax]] emits a
    * pair, then the newcomer joins the state. The d15 pigeonhole
    * guarantee carries over — a qualifying pair MUST share a band — and
    * each pair is emitted exactly once (only in its MINIMAL colliding
    * band, decidable locally because both fingerprints are in hand).
    * CurationStreamSpec pins set-equality with the batch d15 pass.
    *
    * State: the stored fingerprints ARE Manku's tables — 4 × (doc_id,
    * sim) per document, ~64 bytes/doc, sharded across buckets (the
    * (band, byte) key spreads 1024 ways; RocksDB holds it at corpus
    * scale). `horizonMs` bounds the horizon exactly like [[manifest]]'s
    * dedup horizon: a bucket silent past the event-time horizon is
    * evicted wholesale, trading re-detection across long gaps for state
    * bounded by arrival rate × horizon. Requires doc_id-ordered arrival
    * for deterministic orientation (the ordered-ingest precondition the
    * canonical gate already documents).
    */
  def simhashStreamPairs(docs: DataFrame,
                         horizonMs: Option[Long] = None): DataFrame = {
    import graft.functions.Portable
    val s = docs.sparkSession
    import s.implicits._
    val bands = Portable.SimHashBits / Dedup.SimHashBandBits
    val ts =
      if (docs.columns.contains("ts")) col("ts")
      else lit(null).cast("timestamp")
    val base = horizonMs match {
      case Some(h) =>
        require(docs.columns.contains("ts"),
          "horizonMs requires an event-time `ts` column on the input")
        docs.withWatermark("ts", s"$h milliseconds")
      case None => docs
    }
    val timeout =
      if (horizonMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    base
      .withColumn("w", TextOps.tokens(col("text")))
      .withColumn("th", transform(col("w"), t => Portable.hash32(t)))
      .select(col("doc_id"), Dedup.simhashExpr(col("th")).as("sim"),
        ts.as("ts"), opCol(docs).as("op"))
      .select(col("doc_id"), col("sim"), col("ts"), col("op"),
        explode(array((0 until bands).map(b => lit(b)): _*)).as("band"))
      .withColumn("bv",
        expr(s"shiftright(sim, band * ${Dedup.SimHashBandBits}) & 255"))
      .as[SimBucketRow]
      .groupByKey(r => r.band.toLong * 256L + r.bv)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(simBucket(horizonMs))
      .toDF()
  }

  /** Per-bucket state transition of [[simhashStreamPairs]]: compare each
    * arrival (doc_id order, forget after add at the same id) against the
    * stored fingerprints, emit minimal-band pairs, append the newcomer.
    * A forget record purges its doc's fingerprint from the bucket — the
    * erased doc can never vote a pair again — and a bucket left empty is
    * REMOVED, not stored. State rolls back with the batch, so
    * crash-and-replay recomputes identical pairs (and re-purges
    * identically).
    */
  private def simBucket(horizonMs: Option[Long])(key: Long,
      rows: Iterator[SimBucketRow],
      state: GroupState[List[(Long, Long)]]): Iterator[SimPair] = {
    import graft.functions.Portable
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val band = (key / 256L).toInt
      val stored = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long)] ++= state.getOption.getOrElse(Nil)
      val rs = rows.toArray.sortBy(r => (r.doc_id, opRank(r.op)))
      val out = scala.collection.mutable.ArrayBuffer.empty[SimPair]
      def byteOf(sim: Long, b: Int): Long =
        (sim >> (b * Dedup.SimHashBandBits)) & 255L
      rs.foreach { r =>
        if (r.op == OpForget) {
          stored.filterInPlace(_._1 != r.doc_id)
        } else {
          stored.foreach { case (od, os) =>
            if (od != r.doc_id &&
                java.lang.Long.bitCount(r.sim ^ os) <= Dedup.HammingMax) {
              val minBand = (0 until Portable.SimHashBits / Dedup.SimHashBandBits)
                .find(b => byteOf(r.sim, b) == byteOf(os, b)).get
              if (minBand == band)
                out += SimPair(r.doc_id, od,
                  java.lang.Long.bitCount(r.sim ^ os))
            }
          }
          stored += ((r.doc_id, r.sim))
        }
      }
      if (stored.isEmpty) {
        if (state.exists) state.remove()
      } else {
        state.update(stored.toList)
        horizonMs.foreach { h =>
          if (rs.nonEmpty) {
            val maxTs = rs.iterator.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs + h, state.getCurrentWatermarkMs() + 1))
          }
        }
      }
      out.iterator
    }
  }

  /** One banded image-fingerprint arrival of [[mediaStreamPairs]]. */
  final case class MediaBucketRow(asset_id: Long, ahash: Long, nbits: Int,
                                  band: Int, bv: Long, ts: java.sql.Timestamp,
                                  op: String)

  /** An emitted perceptual pair: the arriving asset vs an earlier one. */
  final case class MediaPair(asset_id: Long, dup_of: Long, hamming: Int)

  /** Streaming perceptual image dedup — mm7's streaming twin, completing
    * the within-stream dedup chain across MODALITIES (exact text =
    * [[firstSeen]], lexical = [[nearDupPairs]], fingerprint =
    * [[simhashStreamPairs]], semantic = [[semGate]], perceptual media =
    * here): each arriving image is decoded and aHashed INSIDE the
    * micro-batch by the same batched kernel as batch mm7 (a typed
    * mapPartitions is a narrow streaming transform — payloads never
    * reach the shuffle), the 64-bit fingerprint explodes into the same
    * 16-bit pigeonhole bands, and keyed state per (nbits, band, value)
    * bucket compares each arrival against earlier fingerprints —
    * emitting (asset_id, dup_of, hamming) for every pair within
    * [[graft.operators.Multimodal.HashMaxHamming]], exactly once via
    * the minimal-agreeing-band rule. Batch parity (streamed pairs ==
    * [[graft.operators.Multimodal.imageHashPairs]]) and
    * crash-redelivery identity are pinned in CurationStreamSpec.
    *
    * Scale shape: state per bucket is (id, hash) pairs — 16 bytes per
    * image per band, fingerprints only, pixels long gone; `horizonMs`
    * evicts buckets silent past the event-time horizon exactly like
    * [[simhashStreamPairs]] (a crawl gate typically dedups today
    * against this week, not against all history).
    */
  def mediaStreamPairs(assets: DataFrame,
                       horizonMs: Option[Long] = None): DataFrame = {
    import graft.operators.{MediaCodec, Multimodal}
    val s = assets.sparkSession
    import s.implicits._
    val ts =
      if (assets.columns.contains("ts")) col("ts")
      else lit(null).cast("timestamp")
    if (horizonMs.isDefined)
      require(assets.columns.contains("ts"),
        "horizonMs requires an event-time `ts` column on the input")
    val hashed = assets.filter(col("kind") === "image")
      .select(col("asset_id"), col("data"), ts.as("ts"), opCol(assets).as("op"))
      .as[(Long, Array[Byte], java.sql.Timestamp, String)]
      .mapPartitions { rows =>
        rows.grouped(Multimodal.BatchSize).flatMap { batch =>
          batch.map { case (id, data, t, op) =>
            val (h, g) = Multimodal.aHash(MediaCodec.decodePpm(data))
            (id, h, g, t, op)
          }
        }
      }
      .toDF("asset_id", "ahash", "nbits", "ts", "op")
    // the watermark re-attaches AFTER the kernel (the kernel re-creates
    // the row, so the event-time tag must be declared on its output)
    val base = horizonMs match {
      case Some(h) => hashed.withWatermark("ts", s"$h milliseconds")
      case None    => hashed
    }
    val timeout =
      if (horizonMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    base
      .withColumn("w",
        expr(s"cast((nbits + ${Multimodal.HashBands - 1}) div ${Multimodal.HashBands} as int)"))
      .select(col("asset_id"), col("ahash"), col("nbits"), col("ts"),
        col("op"), col("w"),
        explode(array((0 until Multimodal.HashBands).map(b => lit(b)): _*)).as("band"))
      .withColumn("bv",
        expr(s"shiftright(ahash, band * w) & (shiftleft(cast(1 as bigint), w) - 1)"))
      .select(col("asset_id"), col("ahash"), col("nbits"),
        col("band"), col("bv"), col("ts"), col("op"))
      .as[MediaBucketRow]
      // nbits rides the key: hashes of different widths never pair (the
      // batch join's x.nbits = y.nbits), and band/value complete the bucket
      .groupByKey(r => (r.nbits.toLong << 24) | (r.band.toLong << 16) | r.bv)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(mediaBucket(horizonMs))
      .toDF()
  }

  /** Per-bucket state transition of [[mediaStreamPairs]]: compare each
    * arrival (asset_id order, forget after add at the same id) against
    * the stored fingerprints, emit minimal-band pairs, append the
    * newcomer. A forget record purges its asset's fingerprint from the
    * bucket (the erased image can never vote a pair again); a bucket
    * left empty is removed. State rolls back with the batch, so
    * crash-and-replay recomputes identical pairs and re-purges
    * identically.
    */
  private def mediaBucket(horizonMs: Option[Long])(key: Long,
      rows: Iterator[MediaBucketRow],
      state: GroupState[List[(Long, Long)]]): Iterator[MediaPair] = {
    import graft.operators.Multimodal
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val nbits = (key >> 24).toInt
      val band = ((key >> 16) & 0xffL).toInt
      val bandW = (nbits + Multimodal.HashBands - 1) / Multimodal.HashBands
      val mask = (1L << bandW) - 1
      def bandOf(h: Long, b: Int): Long = (h >> (b * bandW)) & mask
      val stored = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long)] ++= state.getOption.getOrElse(Nil)
      val rs = rows.toArray.sortBy(r => (r.asset_id, opRank(r.op)))
      val out = scala.collection.mutable.ArrayBuffer.empty[MediaPair]
      rs.foreach { r =>
        if (r.op == OpForget) {
          stored.filterInPlace(_._1 != r.asset_id)
        } else {
          stored.foreach { case (oid, oh) =>
            if (oid != r.asset_id &&
                java.lang.Long.bitCount(r.ahash ^ oh) <= Multimodal.HashMaxHamming) {
              val minBand = (0 until Multimodal.HashBands)
                .find(b => bandOf(r.ahash, b) == bandOf(oh, b)).get
              if (minBand == band)
                out += MediaPair(r.asset_id, oid,
                  java.lang.Long.bitCount(r.ahash ^ oh))
            }
          }
          stored += ((r.asset_id, r.ahash))
        }
      }
      if (stored.isEmpty) {
        if (state.exists) state.remove()
      } else {
        state.update(stored.toList)
        horizonMs.foreach { h =>
          if (rs.nonEmpty) {
            val maxTs = rs.iterator.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs + h, state.getCurrentWatermarkMs() + 1))
          }
        }
      }
      out.iterator
    }
  }

  /** One arriving vector of the streaming semantic gate, post-assignment:
    * cell id, double vector + its norm (both computed by the SAME Spark
    * expressions as batch p24), and the already-decided old-corpus
    * verdict.
    */
  final case class SemRow(vec_id: Long, c: Int, v: Array[Double], nrm: Double,
                          dropped_old: Boolean, ts: java.sql.Timestamp,
                          op: String)

  /** The emitted semantic verdict — field-for-field the batch
    * [[graft.operators.Similarity.semDedupShard]] row.
    */
  final case class SemVerdict(vec_id: Long, c: Int, kept: Boolean)

  /** Streaming SemDeDup gate — p24's streaming twin, completing the
    * semantic leg of the streaming dedup chain (exact = [[firstSeen]],
    * lexical = [[nearDupPairs]], fingerprint = [[simhashStreamPairs]],
    * semantic = here): each arriving embedding is assigned to its SAVED
    * k-means cell per row (the centroids ride a single-row dummy-key
    * broadcast, k x D doubles — the quantizer IS the model, shipped to
    * the workers exactly like the LM gate's counts map), checked against
    * the saved corpus's cell co-members through a stream-static left
    * join on the cell id, and checked against EARLIER STREAM arrivals in
    * the same cell through keyed state — so the verdict equals batch
    * p24's (old ∪ new lower-id co-members, kept or not) whenever vectors
    * arrive in vec_id order across micro-batches (the house
    * ordered-ingest precondition; intra-batch disorder is absorbed by
    * the per-batch sort).
    *
    * Numeric parity is by construction, not hope: assignment distances,
    * norms and the old-member cosines are the IDENTICAL Spark
    * expressions as the batch pass (left-to-right folds, round-6/round-4
    * at the same boundaries); the only Scala-side arithmetic is the
    * within-stream cosine, which replays [[graft.functions.VectorExprs]]'
    * left-to-right loop and Spark's BigDecimal.valueOf HALF_UP rounding
    * verbatim — equality is pinned in CurationStreamSpec.
    *
    * Scale shape: the centroid broadcast is k x D (the tuning knob c7
    * prices); the static side is ONE row per cell holding that cell's
    * member block — the same co-location batch SemDeDup's equi-join
    * relies on (Abbas et al. size k so cells stay small; a cell too fat
    * for one block gets sub-clustered, not cross-joined). Keyed state
    * holds only STREAM arrivals per cell — bounded by the shard, which
    * is what a daily-ingest gate processes; for an unbounded stream,
    * `horizonMs` evicts cells silent past the event-time horizon exactly
    * like [[simhashStreamPairs]].
    */
  def semGate(embs: DataFrame, cent: DataFrame, oldEmb: DataFrame,
              oldCells: DataFrame, tau: Double,
              horizonMs: Option[Long] = None): DataFrame = {
    import graft.operators.Similarity.{dot, norm}
    val s = embs.sparkSession
    import s.implicits._
    val centRow = cent
      .groupBy(col("c"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cv")))),
        p => p("cv")).as("cvec"))
      .agg(array_sort(collect_list(struct(col("c"), col("cvec")))).as("cents"))
      .withColumn("one", lit(1))
    val oldSide = oldEmb
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("ov"))
      .join(oldCells.select(col("vec_id"), col("c")), "vec_id")
      .withColumn("onrm", norm(col("ov")))
      .groupBy(col("c"))
      .agg(array_sort(collect_list(
        struct(col("vec_id").as("oid"), col("ov"), col("onrm")))).as("om"))
    val ts =
      if (embs.columns.contains("ts")) col("ts")
      else lit(null).cast("timestamp")
    val base = horizonMs match {
      case Some(h) =>
        require(embs.columns.contains("ts"),
          "horizonMs requires an event-time `ts` column on the input")
        embs.withWatermark("ts", s"$h milliseconds")
      case None => embs
    }
    val timeout =
      if (horizonMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    base
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        ts.as("ts"), opCol(embs).as("op"))
      .withColumn("one", lit(1))
      .join(broadcast(centRow), "one")
      // per-row nearest-centroid: the assignStep arithmetic as a fold —
      // round-6 distances, min distance then min cell id (struct order)
      .withColumn("c", array_min(transform(col("cents"), ct =>
        struct(round(aggregate(zip_with(col("v"), ct("cvec"),
            (x, cc) => (x - cc) * (x - cc)), lit(0.0), _ + _), 6).as("d"),
          ct("c").as("c"))))("c"))
      .withColumn("nrm", norm(col("v")))
      .join(oldSide, Seq("c"), "left_outer")
      .withColumn("dropped_old", coalesce(exists(col("om"), m =>
        m("oid") < col("vec_id") &&
          round(dot(col("v"), m("ov")) / (col("nrm") * m("onrm")), 4) >= tau),
        lit(false)))
      .select(col("vec_id"), col("c"), col("v"), col("nrm"),
        col("dropped_old"), col("ts"), col("op"))
      .as[SemRow]
      .groupByKey(_.c)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(semCell(tau, horizonMs))
      .toDF()
  }

  /** Spark's round(x, 4) for doubles, verbatim (BigDecimal.valueOf +
    * HALF_UP) — the one Scala-side arithmetic step of [[semGate]].
    */
  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Per-cell state transition of [[semGate]]: compare each arrival
    * (vec_id order, forget after add at the same id) against stored
    * earlier stream vectors with the batch cosine arithmetic, fold in
    * the precomputed old-corpus verdict, append the newcomer (kept or
    * not — the non-recursive SemDeDup rule). A forget record purges its
    * vector from the cell's members — the erased embedding can never
    * drop a later near-duplicate again (its OLD-corpus twin is erased by
    * gating against the p53-pruned saved tables instead — the
    * `dropped_old` leg reads whatever artifact the caller passed). A
    * cell left empty is removed. State rolls back with the batch:
    * crash-and-replay recomputes identical verdicts and re-purges
    * identically.
    */
  private def semCell(tau: Double, horizonMs: Option[Long])(key: Int,
      rows: Iterator[SemRow],
      state: GroupState[List[(Long, Array[Double], Double)]])
      : Iterator[SemVerdict] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val stored = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[Double], Double)] ++= state.getOption.getOrElse(Nil)
      val rs = rows.toArray.sortBy(r => (r.vec_id, opRank(r.op)))
      val out = rs.flatMap { r =>
        if (r.op == OpForget) {
          stored.filterInPlace(_._1 != r.vec_id)
          None
        } else {
          val droppedStream = stored.exists { case (oid, ov, onrm) =>
            oid < r.vec_id && {
              var d = 0.0
              var i = 0
              val n = math.min(r.v.length, ov.length)
              while (i < n) { d += r.v(i) * ov(i); i += 1 }
              round4(d / (r.nrm * onrm)) >= tau
            }
          }
          if (!stored.exists(_._1 == r.vec_id)) stored += ((r.vec_id, r.v, r.nrm))
          Some(SemVerdict(r.vec_id, r.c, !r.dropped_old && !droppedStream))
        }
      }
      if (stored.isEmpty) {
        if (state.exists) state.remove()
      } else {
        state.update(stored.toList)
        horizonMs.foreach { h =>
          if (rs.nonEmpty) {
            val maxTs = rs.iterator.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxTs + h, state.getCurrentWatermarkMs() + 1))
          }
        }
      }
      out.iterator
    }

  /** One arriving doc of the packing stream, post-projection. */
  final case class PackInRow(doc_id: Long, source: String, shard: Int,
                             n_tokens: Long)

  /** The streamed packing row — field-for-field the batch
    * [[graft.operators.Curation.packSequences]] output.
    */
  final case class PackedRow(doc_id: Long, source: String, shard: Int,
                             n_tokens: Long, seq_first: Long, seq_last: Long,
                             n_cuts: Int)

  /** STREAMING sequence packing — p11's concat-and-chunk assignment
    * maintained as documents arrive: each (source, shard) stream keeps ONE
    * running token offset as keyed state, and every arriving doc is
    * assigned its training-sequence span [seq_first, seq_last] exactly as
    * the batch prefix sum would. This is the loader-facing stream: a
    * training shard can consume sequence assignments while the crawl is
    * still landing, instead of waiting for a nightly batch pack.
    *
    * Semantics contract (the asOfStream/firstSeen convention): shard
    * assignment and token counts are the IDENTICAL per-row expressions as
    * batch [[graft.operators.Curation.packSequences]]; the running offset
    * equals the batch prefix sum whenever each (source, shard) group's
    * docs ARRIVE in doc_id order across micro-batches (ordered ingest) —
    * within a micro-batch, rows are doc_id-sorted so intra-batch disorder
    * is absorbed. Under out-of-order arrival the stream still packs
    * every doc gaplessly (a valid packing — arrival order IS a concat
    * order); it just differs from the batch one, exactly like a loader
    * that packs in receipt order.
    *
    * Scale/state shape: state is ONE long per (source, shard) — at most
    * sources × [[graft.operators.Curation.PackShards]] entries, bounded
    * by CONSTRUCTION, so NoTimeout is the correct mode here (contrast
    * [[firstSeen]], whose per-hash state needs the event-time horizon to
    * stay bounded). State commits with the batch: crash-and-replay
    * recomputes identical spans.
    */
  def packStream(docs: DataFrame): DataFrame = {
    import graft.functions.Portable
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("source"),
        (Portable.hash32(col("doc_id").cast("string")) % Curation.PackShards)
          .cast("int").as("shard"),
        size(Portable.tokens(col("text"))).cast("bigint").as("n_tokens"))
      .as[PackInRow]
      .groupByKey(r => (r.source, r.shard))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(packGroup)
      .toDF()
  }

  /** Per-(source, shard) state transition of [[packStream]]: fold the
    * batch's doc_id-ordered arrivals over the stored running offset —
    * integer division only, the batch packing arithmetic verbatim.
    */
  private def packGroup(key: (String, Int), rows: Iterator[PackInRow],
      state: GroupState[Long]): Iterator[PackedRow] = {
    val rs = rows.toArray.sortBy(_.doc_id)
    var cum = state.getOption.getOrElse(0L)
    val out = rs.map { r =>
      val cumPrev = cum
      cum += r.n_tokens
      val seqFirst = cumPrev / Curation.SeqLen
      val seqLast = (cumPrev + math.max(r.n_tokens, 1L) - 1) / Curation.SeqLen
      PackedRow(r.doc_id, r.source, r.shard, r.n_tokens,
        seqFirst, seqLast, (seqLast - seqFirst).toInt)
    }
    if (rs.nonEmpty) state.update(cum)
    out.iterator
  }

  /** The streaming manifest: per-row gates + keyed first-seen canonical.
    * `docs` is a streaming (doc_id, text, ...) frame; `hot` and `lm` the
    * trained static artifacts. Emits one ManifestRow per document, append
    * mode. `dedupHorizonMs` bounds the canonical state's EVENT-TIME
    * horizon: the input must then carry a `ts` timestamp column (a
    * watermark of the same width is applied here), and a hash silent for
    * longer than the horizon is evicted when the watermark passes its
    * deadline. None keeps state for the query's lifetime — a deliberate
    * choice for bounded corpora, not the only mode.
    *
    * Erasure reaches the RUNNING manifest through the [[OpForget]]
    * convention: a forget record carrying the erased document's
    * (doc_id, text) flows through the same gates to the same hash key
    * and clears the canonical state when the erased doc held it — no
    * restart, no checkpoint surgery (CurationStreamSpec pins it across
    * an injected crash).
    */
  def manifest(docs: DataFrame, hot: DataFrame, lm: TextOps.SurprisalModel,
               dedupHorizonMs: Option[Long] = None): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val timeout =
      if (dedupHorizonMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val base = dedupHorizonMs match {
      case Some(h) =>
        require(docs.columns.contains("ts"),
          "dedupHorizonMs requires an event-time `ts` column on the input")
        docs.withWatermark("ts", s"$h milliseconds")
      case None => docs
    }
    gated(base, hot, lm).as[GateRow]
      .groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(firstSeen(dedupHorizonMs))
      .toDF()
  }

  // ------------------------------------------------- online serving (s19)

  /** A side channel of [[serve]]: the rows a request batch yields on it
    * (malformed rejects, refused hot-term legs, ...) and their consumer.
    */
  type SideChannel = (DataFrame => DataFrame, DataFrame => Unit)

  /** ONLINE SERVING — a saved index's online leg: a request stream
    * answered micro-batch by micro-batch by `answer`, one of the batch
    * servers applied to the request batch —
    * [[graft.operators.Similarity.ivfPqServe]] (ANN, s19),
    * [[graft.operators.TextOps.bm25ServeBatch]] (BM25), or the positional
    * `phrase`/`proximity`/`spanNear`/`coocServeBatch` — or its
    * `*Budgeted` form (the t59/s20 serve-time cost budget), optionally
    * wrapped by [[tombstoned]] and [[HotTermGuard]]. Stateless by
    * construction: each micro-batch is an independent batch of lookups
    * against the static artifact tables, so results are identical however
    * the request stream is chopped, and a replayed batch re-emits
    * identical rows (at-least-once sink semantics).
    *
    * Per trigger the request batch is read once (persisted for the
    * trigger): an empty micro-batch calls nothing; otherwise
    * `onBatch` receives `answer(batch)`, then each side channel in the
    * order given computes its rows from the request batch and hands them
    * to its consumer only when they are non-empty. A channel not passed
    * costs no Spark job. The batch servers DROP malformed requests, so
    * their `*ServeRejects` complement is the channel that tells a
    * malformed request from a zero-match one.
    */
  def serve(queries: DataFrame, answer: DataFrame => DataFrame)
           (onBatch: DataFrame => Unit, sides: SideChannel*)
      : DataStreamWriter[Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        // persisted for the trigger, as Fanout.route does: the emptiness
        // check, `answer`'s jobs and every side channel read the request
        // files once
        b.persist()
        try {
          if (!b.isEmpty) {
            onBatch(answer(b))
            sides.foreach { case (rows, consume) =>
              val r = rows(b)
              if (!r.isEmpty) consume(r)
            }
          }
        } finally { b.unpersist(); () }
      }

  /** TOMBSTONE-AWARE answering — erasure reaches the serving layer
    * without a restart or an index rebuild: every micro-batch re-reads
    * the append-only tombstone table at `tombstoneDir` (doc_id or vec_id
    * rows; the index rebuild can lag behind it) from the batch's own
    * session, prunes `idx` with the kind's own `prune`
    * ([[graft.operators.Forget.pruneAnnIndexList]],
    * [[graft.operators.TextOps.deleteListFromBm25Index]],
    * [[graft.operators.TextOps.deleteListFromPositionalIndex]]) and
    * answers against the pruned index: a doc erased between two requests
    * is served to the first and invisible to the second. BM25's df/avgdl
    * are re-derived per batch (t35), and a budget walk prices each
    * request against the pruned index, as a fresh build would.
    */
  def tombstoned[I](idx: I, tombstoneDir: String, prune: (I, DataFrame) => I)
                   (answer: (DataFrame, I) => DataFrame): DataFrame => DataFrame =
    b => answer(b, prune(idx, b.sparkSession.read.parquet(tombstoneDir)))

  /** THE POSITIONAL HOT-TERM GATE: requests touching any
    * [[graft.operators.TextOps.servingStopCandidates]] term (the `stop`
    * table) are REFUSED WHOLE — never served, never term-stripped (a
    * span-near chain or a cooc window is structural: dropping a leg
    * changes what the query means, which is why the t59/s20 budgets
    * exclude this family). `apply` wraps an `answer` so it serves only
    * the clean requests, byte-identically to the unguarded server;
    * [[refused]] is the side channel carrying the refused requests'
    * (query_id, t, occ) legs from
    * [[graft.operators.TextOps.positionalStopLegs]] — the term that
    * triggered the gate and the posting rows that one leg would have
    * dragged through the serve plan's join steps, i.e. what the request
    * would have COST. Refusal judges cost, the malformed channel shape: a
    * hot, malformed but non-null term array lands on both.
    */
  final case class HotTermGuard(stop: DataFrame) {
    val legs: DataFrame => DataFrame = TextOps.positionalStopLegs(_, stop)
    def apply(answer: DataFrame => DataFrame): DataFrame => DataFrame =
      b => answer(b.join(legs(b).select(col("query_id")).distinct(),
        Seq("query_id"), "left_anti"))

    def refused(onRefused: DataFrame => Unit): SideChannel = (legs, onRefused)
  }
}
