package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.LongAccumulator

/**
 * Streaming near-duplicate detection over a continuous page stream —
 * the streaming members of the dedup family (batch twins:
 * graft.text.Dedup.simhashPairs, Dedup.minhashLsh,
 * graft.vector.Ann.bandedCandidates / cosineNearDupBanded).
 * Beyond-reference (the reference is batch-only).
 *
 * Shape: each page's signature (the SAME kernels and band splitters as
 * batch: minhash_sigs with Dedup.bands, Dedup.bitBands for the simhash
 * and hyperplane bits) explodes into its band keys; state lives PER
 * BAND BUCKET (flatMapGroupsWithState keyed by (band, key)) and holds
 * one ENTRY per page seen in that bucket within the pairing horizon:
 * its id, event time, and the family's VERIFY PAYLOAD — the 60-bit
 * simhash signature, the distinct shingle set, or the quantized
 * embedding.
 * Because the payload rides the state, every family verifies
 * IN-STREAM (VERDICT r4 next #1 — the simhash pattern generalized):
 * an arriving page emits one verified pair row per qualifying state
 * entry — pairs surface the moment the second member arrives, stamped
 * with that member's event time (`ts`), and a pair sharing several
 * bands emits once per shared band: collapse downstream with
 * `.withWatermark("ts", d).dropDuplicatesWithinWatermark("id_a", "id_b")`
 * if exactly-once pairs are required. The candidate-only variants
 * (minhashCandidates / embedNearDupCandidates) remain for pipelines
 * that verify against an external store and want minimal state.
 *
 * Horizon contract: two pages pair iff their event times are within
 * `horizon` of each other (given a band match) — the same guarantee
 * window dropDuplicatesWithinWatermark gives. That requires keeping a
 * state entry until the WATERMARK passes `entry.ts + horizon` (a
 * future non-late event has ts >= watermark, so only then can no
 * pairable event still arrive); evicting at `entry.ts < watermark`
 * would silently miss non-late pairs depending on micro-batch timing.
 *
 * State is bounded three ways, the same discipline as the batch path:
 *  - TIME: eviction + whole-bucket event-time timeout as above;
 *  - SIZE: a bucket holds at most `maxBucket` entries (the streaming
 *    form of Dedup.capBuckets — a boilerplate bucket would otherwise
 *    grow state AND emit quadratically); overflow drops OLDEST first,
 *    deterministically, and every dropped entry counts into the
 *    caller's `overflowDrops` accumulator (the streaming analog of
 *    batch bucketStats — "no silent truncation": operators can see
 *    when the cap is eating recall);
 *  - SALVAGE: `subBuckets > 1` splits every bucket into md5-salted
 *    sub-buckets BEFORE keying (the streaming analog of the batch
 *    three-tier salvage policy, Dedup.capBuckets: same salt,
 *    Dedup.subBucket — first md5 word of the id's decimal string, mod
 *    subBuckets — so a hot bucket's state and emission drop
 *    ~subBuckets× while every sampled pair still verifies exactly).
 *    Batch salvage derives the sub-bucket count from the measured
 *    bucket size; a stream can't see the future, so the caller picks a
 *    STATIC fan-out sized to the expected hot-bucket mass. A sub-bucketed stream equals the batch
 *    salvage candidates of any bucket whose ceil(n/cap) matches.
 */
object NearDupStream {

  /** One banded event: the (band, key) bucket identity plus the
    * family's verify payload — `sig` for fixed-width signatures
    * (simhash bits, quantized embedding), `toks` for shingle sets;
    * unused payloads are null. */
  case class BandEvent(band: Int, key: String, doc_id: Long,
                       sig: Array[Long], toks: Array[String],
                       ts: java.sql.Timestamp)
  /** A live bucket-state entry (the payload halves mirror BandEvent). */
  case class Entry(id: Long, sig: Array[Long], toks: Array[String],
                   tsMs: Long)
  case class BucketState(entries: List[Entry])

  /** Verified simhash pair (exact Hamming rides the emission). */
  case class PairHit(id_a: Long, id_b: Long, hamming: Int, band: Int,
                     ts: java.sql.Timestamp)
  /** Blocking-only candidate (verify happens downstream). */
  case class CandHit(id_a: Long, id_b: Long, band: Int,
                     ts: java.sql.Timestamp)
  /** Verified minhash pair — the batch minhashLsh columns (common,
    * n_a, n_b, jaccard over DISTINCT shingle sets) plus band/ts. */
  case class JaccardHit(id_a: Long, id_b: Long, common: Long,
                        n_a: Long, n_b: Long, jaccard: Double,
                        band: Int, ts: java.sql.Timestamp)
  /** Verified embedding pair — the batch cosineNearDupBanded columns
    * (exact cosine over quantized vectors) plus band/ts. */
  case class CosineHit(id_a: Long, id_b: Long, cos: Double, band: Int,
                       ts: java.sql.Timestamp)

  /** Shared bucket-pairing core over a banded event stream: keyed by
    * (band, key), an arriving event pairs with every live same-bucket
    * entry within the horizon; `make(lo, hi, band, ts)` (lo = the
    * lower-id member) VERIFIES the pair from the two payloads and
    * builds the family's output row (None = not a pair). The state/
    * timeout/cap discipline is identical for every signature family —
    * only the banding and the verify differ. */
  private def bandedPairStream[P: Encoder](
      banded: Dataset[BandEvent], horizonMs: Long, maxBucket: Int,
      make: (Entry, Entry, Int, java.sql.Timestamp) => Option[P],
      overflowDrops: Option[LongAccumulator]): Dataset[P] = {
    import banded.sparkSession.implicits._

    def update(bandKey: (Int, String), it: Iterator[BandEvent],
               state: GroupState[BucketState]): Iterator[P] = {
      val wm = state.getCurrentWatermarkMs()
      if (state.hasTimedOut) {
        // nothing in the bucket can pair with any future event: drop it
        state.remove()
        Iterator.empty
      } else {
        // evict entries whose pairing window closed (ts + horizon < wm)
        var entries = state.getOption.map(_.entries).getOrElse(Nil)
          .filter(_.tsMs + horizonMs >= wm)
        // deterministic processing order regardless of arrival batching
        val events = it.toSeq.sortBy(e => (e.ts.getTime, e.doc_id))
        val out = Seq.newBuilder[P]
        events.foreach { e =>
          val eMs = e.ts.getTime
          // at-least-once upstream: a redelivered doc REPLACES its old
          // entry (same pairs would re-emit against a duplicate entry,
          // and the duplicate would waste a cap slot) but KEEPS the
          // earliest timestamp (ADVICE r5 #4: adopting the redelivery's
          // ts would silently extend the doc's pairing horizon past its
          // original event time — the batch twin keys ONE ts per doc).
          // The kept ts drives both the window check and the emitted
          // pair ts, so a redelivery can never emit a pair the
          // first-delivery ordering would not.
          val keptMs = entries.find(_.id == e.doc_id)
            .map(o => math.min(o.tsMs, eMs)).getOrElse(eMs)
          val ev = Entry(e.doc_id, e.sig, e.toks, keptMs)
          entries = entries.filterNot(_.id == e.doc_id)
          entries.foreach { o =>
            if (math.abs(ev.tsMs - o.tsMs) <= horizonMs) {
              val (lo, hi) = if (o.id < ev.id) (o, ev) else (ev, o)
              val ts = new java.sql.Timestamp(math.max(ev.tsMs, o.tsMs))
              make(lo, hi, e.band, ts).foreach(out += _)
            }
          }
          val grown = (ev :: entries)
            .sortBy(en => (-en.tsMs, -en.id)) // newest first
          entries = grown.take(maxBucket) // size cap: oldest drop first
          val dropped = grown.length - entries.length
          if (dropped > 0) overflowDrops.foreach(_.add(dropped.toLong))
        }
        state.update(BucketState(entries))
        // the bucket is fully dead once the watermark passes the
        // newest member's pairing window
        val newest = entries.map(_.tsMs).maxOption.getOrElse(wm)
        state.setTimeoutTimestamp(math.max(newest + horizonMs, wm + 1))
        out.result().iterator
      }
    }

    banded
      .groupByKey(e => (e.band, e.key))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  private val NullLongs: Column = lit(null).cast("array<bigint>")
  private val NullStrs: Column = lit(null).cast("array<string>")

  /** Streaming salvage tier: split every band bucket into `subBuckets`
    * md5-salted sub-buckets by amending the key — the batch sub-bucket
    * salt itself (Dedup.subBucket, which Dedup.capBuckets' salvage tier
    * uses), so a stream with subBuckets = n pairs exactly like a batch
    * salvaged bucket whose ceil(size/cap) is n. subBuckets == 1 is the
    * identity. */
  private def withSubBuckets(banded: DataFrame, subBuckets: Int): DataFrame = {
    require(subBuckets >= 1, s"subBuckets must be >= 1, got $subBuckets")
    if (subBuckets == 1) banded
    else banded.withColumn("key", concat(col("key"), lit(":"),
      graft.text.Dedup.subBucket(col("doc_id"), lit(subBuckets.toLong))
        .cast("string")))
  }

  /** SimHash streaming near-dup. pages must carry (idCol: long,
    * textCol: string, tsCol: timestamp). `horizon` is both the
    * watermark delay and the pairing window; the band count derives
    * from `maxHamming` exactly as in batch (Dedup.simhashNumBands), so
    * the pigeonhole recall guarantee holds for any supported value.
    * Returns the append-mode VERIFIED pair stream (exact Hamming —
    * the signature rides the state). */
  def nearDupPairs(pages: DataFrame, idCol: String, textCol: String,
                   tsCol: String,
                   horizon: java.time.Duration = java.time.Duration.ofHours(1),
                   maxHamming: Int = 3, maxBucket: Int = 64,
                   subBuckets: Int = 1,
                   overflowDrops: Option[LongAccumulator] = None)
      : Dataset[PairHit] = {
    import pages.sparkSession.implicits._
    import graft.functions.simhash60
    val numBands = graft.text.Dedup.simhashNumBands(maxHamming)
    val sig = pages.select(col(idCol).as("doc_id"),
        simhash60(col(textCol)).as("sig"), col(tsCol).as("ts"))
      .withWatermark("ts", s"${horizon.toSeconds} seconds")
    val bits = graft.text.SimHash.Bits
    val banded = withSubBuckets(
      sig.select(col("doc_id"), col("sig"), col("ts"),
          explode(graft.text.Dedup.bitBands(col("sig"), bits, bits / numBands))
            .as("bk"))
        .select(col("bk.band").as("band"),
          col("bk.k0").cast("string").as("key"),
          col("doc_id"), array(col("sig")).as("sig"),
          NullStrs.as("toks"), col("ts")),
      subBuckets).as[BandEvent]
    bandedPairStream[PairHit](banded, horizon.toMillis, maxBucket,
      (lo, hi, band, ts) => {
        val h = java.lang.Long.bitCount(lo.sig(0) ^ hi.sig(0))
        if (h <= maxHamming) Some(PairHit(lo.id, hi.id, h, band, ts))
        else None
      }, overflowDrops)
  }

  /** Per-row MinHash band keys of a page relation — streaming-safe
    * (no groupBy): the signature is the batch row kernel's
    * (Dedup.minhashSigRows over `minhash_sigs`), and the bands are
    * Dedup.bands' layout, so stream and batch bucket identically, hash
    * for hash. Emits (band, key, doc_id, toks, ts) with key = the band's
    * rowsPerBand minima joined ':' — the same (band, values) bucket
    * identity as Dedup.bands, in a form one groupByKey can key on at
    * any rowsPerBand — and toks = the DISTINCT shingle set (the exact-
    * Jaccard verify payload; pruned away by candidate-only consumers).
    * Docs too short to have a shingle emit nothing (they have no batch
    * signature row either). */
  def minhashBandKeys(pages: DataFrame, idCol: String, textCol: String,
                      tsCol: String, numHashes: Int = 8,
                      rowsPerBand: Int = 2, k: Int = 3): DataFrame = {
    import graft.text.Dedup
    val sig = Dedup.minhashSigRows(pages,
      Seq(col(idCol).as("id"), col(tsCol).as("ts"),
        array_distinct(graft.text.TextOps.shingles(col(textCol), k)).as("toks")),
      col(textCol), k, numHashes)
    Dedup.bands(sig, numHashes, rowsPerBand)
      .select(col("band"),
        concat_ws(":", (0 until rowsPerBand).map(r => col(s"k$r")): _*)
          .as("key"),
        col("id").as("doc_id"), col("toks"), col("ts"))
  }

  /** MinHash streaming near-dup CANDIDATES (the streaming twin of
    * `Dedup.candidates(Dedup.bands(Dedup.minhash(...)))`): two docs
    * emit a candidate the moment they share any minhash band bucket
    * within the horizon. The minimal-state variant for pipelines that
    * verify downstream against a doc store (per-document shingle sets
    * of the sink's candidate ids, `size(array_intersect)` per pair, as
    * `Dedup.minhashLsh` verifies); for in-stream exact Jaccard use
    * [[minhashVerifiedPairs]]. Same state discipline as the simhash
    * stream. */
  def minhashCandidates(pages: DataFrame, idCol: String, textCol: String,
                        tsCol: String,
                        horizon: java.time.Duration = java.time.Duration.ofHours(1),
                        numHashes: Int = 8, rowsPerBand: Int = 2, k: Int = 3,
                        maxBucket: Int = 64, subBuckets: Int = 1,
                        overflowDrops: Option[LongAccumulator] = None)
      : Dataset[CandHit] = {
    import pages.sparkSession.implicits._
    val banded = withSubBuckets(
      minhashBandKeys(pages, idCol, textCol, tsCol, numHashes,
          rowsPerBand, k)
        .withWatermark("ts", s"${horizon.toSeconds} seconds")
        .select(col("band"), col("key"), col("doc_id"),
          NullLongs.as("sig"), NullStrs.as("toks"), col("ts")),
      subBuckets).as[BandEvent]
    bandedPairStream[CandHit](banded, horizon.toMillis, maxBucket,
      (lo, hi, band, ts) => Some(CandHit(lo.id, hi.id, band, ts)),
      overflowDrops)
  }

  /** MinHash streaming near-dup VERIFIED pairs (the full streaming
    * twin of `Dedup.minhashLsh`): band-bucket candidates verified
    * IN-STREAM by exact Jaccard — each doc's DISTINCT shingle set
    * rides its state entry, so the emitted (common, n_a, n_b, jaccard)
    * are the batch values exactly (set semantics, same closed-form
    * division) and a pair emits the moment its second member arrives.
    * State per entry is the doc's shingle set — bounded by document
    * length × maxBucket per bucket; size it with maxBucket/subBuckets
    * like any hot-bucket guard, or fall back to
    * [[minhashCandidates]] + a store join when per-doc payloads are
    * too large to hold in state. Emits only pairs with common > 0 and
    * jaccard >= threshold (the batch contract). */
  def minhashVerifiedPairs(pages: DataFrame, idCol: String, textCol: String,
                           tsCol: String, threshold: Double = 0.4,
                           horizon: java.time.Duration = java.time.Duration.ofHours(1),
                           numHashes: Int = 8, rowsPerBand: Int = 2,
                           k: Int = 3, maxBucket: Int = 64,
                           subBuckets: Int = 1,
                           overflowDrops: Option[LongAccumulator] = None)
      : Dataset[JaccardHit] = {
    import pages.sparkSession.implicits._
    val banded = withSubBuckets(
      minhashBandKeys(pages, idCol, textCol, tsCol, numHashes,
          rowsPerBand, k)
        .withWatermark("ts", s"${horizon.toSeconds} seconds")
        .select(col("band"), col("key"), col("doc_id"),
          NullLongs.as("sig"), col("toks"), col("ts")),
      subBuckets).as[BandEvent]
    bandedPairStream[JaccardHit](banded, horizon.toMillis, maxBucket,
      (lo, hi, band, ts) => {
        // exact |A ∩ B| over the distinct sets (hash membership — no
        // ordering assumption between SQL and JVM string sorts)
        val aSet = lo.toks.toSet
        var common = 0L
        hi.toks.foreach(t => if (aSet.contains(t)) common += 1)
        val nA = lo.toks.length.toLong
        val nB = hi.toks.length.toLong
        // the batch formula verbatim: Long arithmetic, ONE division
        val jac = common.toDouble / (nA + nB - common).toDouble
        if (common > 0 && jac >= threshold)
          Some(JaccardHit(lo.id, hi.id, common, nA, nB, jac, band, ts))
        else None
      }, overflowDrops)
  }

  /** The banded event stream of an embedding relation (shared by the
    * candidate and verified variants): quantize -> lshSignature (pure
    * expressions, streaming-safe), bands via the SHARED
    * Dedup.bitBands so stream and batch cannot drift. The
    * quantized vector rides `sig` (the cosine verify payload; pruned
    * away by candidate-only consumers). */
  private def embedBanded(vecs: DataFrame, idCol: String, vecCol: String,
                          tsCol: String, dim: Int, numPlanes: Int,
                          rowsPerBand: Int, horizon: java.time.Duration,
                          subBuckets: Int, keepVec: Boolean): DataFrame = {
    import graft.vector.Ann
    // quantize ONCE in its own projection — inlining the quantize
    // expression into each of the numPlanes hyperplane dot products
    // would re-evaluate it per plane if codegen subexpression
    // elimination is unavailable (the batch cosineNearDup shape)
    withSubBuckets(
      vecs.select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
          Ann.quantize(col(vecCol)).as("v"))
        .select(col("doc_id"), col("ts"), col("v"),
          Ann.lshSignature(col("v"), dim, numPlanes).as("hsig"))
        .withWatermark("ts", s"${horizon.toSeconds} seconds")
        .select(col("doc_id"), col("ts"), col("v"),
          explode(graft.text.Dedup.bitBands(col("hsig"), numPlanes,
            rowsPerBand)).as("bk"))
        .select(col("bk.band").as("band"),
          col("bk.k0").cast("string").as("key"),
          col("doc_id"),
          (if (keepVec) col("v") else NullLongs).as("sig"),
          NullStrs.as("toks"), col("ts")),
      subBuckets)
  }

  /** Embedding streaming near-dup CANDIDATES (batch twin:
    * Ann.bandedCandidates — the blocking half of cosineNearDupBanded):
    * two vectors emit a candidate the moment they share any r-of-b
    * hyperplane band bucket within the horizon. The minimal-state
    * variant (verify downstream by id against a vector store); for
    * in-stream exact cosine use [[embedNearDupVerified]]. */
  def embedNearDupCandidates(vecs: DataFrame, idCol: String, vecCol: String,
                             tsCol: String, dim: Int,
                             horizon: java.time.Duration = java.time.Duration.ofHours(1),
                             numPlanes: Int = 16, rowsPerBand: Int = 8,
                             maxBucket: Int = 64, subBuckets: Int = 1,
                             overflowDrops: Option[LongAccumulator] = None)
      : Dataset[CandHit] = {
    import vecs.sparkSession.implicits._
    val banded = embedBanded(vecs, idCol, vecCol, tsCol, dim, numPlanes,
      rowsPerBand, horizon, subBuckets, keepVec = false).as[BandEvent]
    bandedPairStream[CandHit](banded, horizon.toMillis, maxBucket,
      (lo, hi, band, ts) => Some(CandHit(lo.id, hi.id, band, ts)),
      overflowDrops)
  }

  /** Embedding streaming near-dup VERIFIED pairs (the full streaming
    * twin of `Ann.cosineNearDupBanded`): band-bucket candidates
    * verified IN-STREAM by exact cosine — the QUANTIZED vector rides
    * the state entry, dot products are exact Long sums and the cosine
    * is the batch closed form verbatim (one double division), so
    * emitted values are bit-identical to batch. State per entry is dim
    * longs — fixed-width, the cheapest verified payload of the three
    * families. A zero vector never pairs (batch try_divide -> NULL). */
  def embedNearDupVerified(vecs: DataFrame, idCol: String, vecCol: String,
                           tsCol: String, dim: Int, threshold: Double,
                           horizon: java.time.Duration = java.time.Duration.ofHours(1),
                           numPlanes: Int = 16, rowsPerBand: Int = 8,
                           maxBucket: Int = 64, subBuckets: Int = 1,
                           overflowDrops: Option[LongAccumulator] = None)
      : Dataset[CosineHit] = {
    import vecs.sparkSession.implicits._
    val banded = embedBanded(vecs, idCol, vecCol, tsCol, dim, numPlanes,
      rowsPerBand, horizon, subBuckets, keepVec = true).as[BandEvent]
    bandedPairStream[CosineHit](banded, horizon.toMillis, maxBucket,
      (lo, hi, band, ts) => {
        val a = lo.sig; val b = hi.sig
        val n = math.min(a.length, b.length)
        var dot = 0L; var n2a = 0L; var n2b = 0L
        var i = 0
        while (i < n) {
          dot += a(i) * b(i); n2a += a(i) * a(i); n2b += b(i) * b(i)
          i += 1
        }
        // batch cosineFromParts verbatim: cast, sqrt, multiply, divide
        val denom = math.sqrt(n2a.toDouble) * math.sqrt(n2b.toDouble)
        if (denom == 0d) None
        else {
          val cos = dot.toDouble / denom
          if (cos >= threshold) Some(CosineHit(lo.id, hi.id, cos, band, ts))
          else None
        }
      }, overflowDrops)
  }
}
