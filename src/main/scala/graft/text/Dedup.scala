package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GatePlans

import TextOps._

/**
 * Deduplication family for web-scale corpora (builder mandate):
 * exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band ->
 * bucket-join -> exact-Jaccard verify), SimHash (band-join on signature
 * nibbles, exact Hamming verify), and exact n-gram-Jaccard via an
 * inverted shingle index.
 *
 * Scale notes: every pipeline is candidate-generation-by-equi-join (no
 * all-pairs product anywhere); the verify step touches only candidate
 * pairs. All hashes are md5-derived (TextKernels/SimHash) so the DuckDB
 * oracle reproduces every signature exactly. Tiebreaks are explicit
 * (min doc_id keeper, a<b pair order) — deterministic at any
 * parallelism.
 */
object Dedup {

  /** Default document-frequency cap for capped n-gram candidate
    * generation (the gate configuration; production corpora tune it). */
  val NgramMaxDf = 8

  /** Exact dedup: group by content hash, keep min id.
    * Returns (fp, n_dups, keeper). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("fp"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper"))

  /** All (id, shingle) occurrences (duplicates kept — min-aggregation
    * consumers don't need the distinct shuffle). */
  def docShinglesAll(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
      explode(shingles(col(textCol), k)).as("shingle"))

  /** Distinct (id, shingle) pairs (the set semantics Jaccard needs). */
  def docShingles(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 3): DataFrame =
    docShinglesAll(df, idCol, textCol, k).distinct()

  /** MinHash signatures: numHashes 32-bit minima. The hash family is
    * the md5 WORDS of salted shingles — md5(shingle || '#' || salt)
    * yields FOUR independent 32-bit hashes per digest, so 8 hashes
    * cost 2 digests per shingle (not 8). Words are projected to plain
    * columns before the min-aggregate so each digest runs once/row. */
  def minhash(sh: DataFrame, numHashes: Int = 8): DataFrame = {
    import graft.functions.md5_words
    require(numHashes % 4 == 0, "numHashes must be a multiple of 4")
    val nSalts = numHashes / 4
    val withWords = sh.select(
      col("id") +:
        (0 until nSalts).map(s => md5_words(
          if (s == 0) col("shingle")
          else concat(col("shingle"), lit(s"#$s"))).as(s"w$s")): _*)
    val flat = withWords.select(
      col("id") +:
        (0 until numHashes).map(i =>
          element_at(col(s"w${i / 4}"), i % 4 + 1).as(s"h$i")): _*)
    flat.groupBy("id").agg(
      min(col("h0")).as("m0"),
      (1 until numHashes).map(i => min(col(s"h$i")).as(s"m$i")): _*)
  }

  /** LSH band keys: the rowsPerBand signature values as NATIVE long
    * columns (k0, k1, ...) — the bucket self-join then runs on plain
    * longs, no per-row key-string building. Emits (id, band, k*) plus
    * every other non-signature column of `sig` (NearDupStream carries
    * its event time and verify payload through the same layout). */
  def bands(sig: DataFrame, numHashes: Int = 8,
            rowsPerBand: Int = 2): DataFrame = {
    // fail fast like every sibling banding entry point: rowsPerBand >
    // numHashes would emit ZERO band rows (silently empty near-dup
    // result), a non-divisor would silently ignore the hash tail
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"rowsPerBand $rowsPerBand must divide numHashes $numHashes")
    val nBands = numHashes / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      struct((lit(b).as("band") +: (0 until rowsPerBand)
        .map(r => col(s"m${b * rowsPerBand + r}").as(s"k$r"))): _*)
    }
    val kCols = (0 until rowsPerBand).map(r => col(s"bk.k$r").as(s"k$r"))
    val carried = sig.columns.filterNot(_.matches("m\\d+")).toSeq.map(col)
    sig.select(carried :+ explode(array(bandCols: _*)).as("bk"): _*)
      .select((carried ++ (col("bk.band").as("band") +: kCols)): _*)
  }

  /** The join keys of a band relation: `band` and every `k*` column
    * (the band values, plus the salvage sub-bucket `ksub` when a
    * policy added it). */
  private def bucketKeys(bandDf: DataFrame): Seq[String] =
    bandDf.columns.filter(c => c == "band" || c.startsWith("k")).toSeq

  /** One row per band bucket: its keys and its id count `bucket_n`. */
  private def bucketSizes(bandDf: DataFrame): DataFrame =
    bandDf.groupBy(bucketKeys(bandDf).map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))

  /** The salvage sub-bucket of an id among `n`: the first md5 word of
    * the id's decimal string, mod n (DuckDB-reproducible, h32FromMd
    * parity). It depends only on (id, n), so it is deterministic at any
    * parallelism; NearDupStream's static sub-buckets use it too. */
  private[graft] def subBucket(id: Column, n: Column): Column =
    pmod(element_at(graft.functions.md5_words(id.cast("string")), 1), n)

  /** The hot-bucket policy: the bucket self-join is QUADRATIC in
    * bucket size, so one boilerplate cluster of 10^6 near-identical
    * pages sharing a band bucket would emit ~5*10^11 candidate pairs
    * before any verify. Buckets <= `cap` pair fully (ksub = 0 —
    * identical to the uncapped path); buckets between cap and
    * cap * `salvageFactor` split into ceil(n/cap) md5-salted
    * sub-buckets ([[subBucket]] becomes an extra join key, so per-bucket
    * join work drops from n^2 to ~n*cap while every SAMPLED pair still
    * goes through the exact verify); larger buckets drop. The default
    * factor 1 is plain keep/drop: every surviving bucket has n <= cap,
    * so ksub is always 0. The per-bucket count is a partial-aggregating
    * groupBy (no skewed window); surviving rows come back via an
    * equi-join on the same keys. [[bucketStats]] reports what a policy
    * keeps, salvages and drops (no silent truncation). */
  def capBuckets(bandDf: DataFrame, cap: Int,
                 salvageFactor: Int = 1): DataFrame = {
    require(cap >= 1 && salvageFactor >= 1)
    val counts = bucketSizes(bandDf)
      .filter(col("bucket_n") <= cap.toLong * salvageFactor)
    // ceil(n/cap) via truncating double division — DuckDB's int '/'
    // is DOUBLE too, so CAST(... AS BIGINT) on both sides agrees
    val nsub = ((col("bucket_n") + (cap - 1)) / cap).cast("long")
    bandDf.join(counts, bucketKeys(bandDf))
      .withColumn("ksub", when(col("bucket_n") <= cap, lit(0L))
        .otherwise(subBucket(col("id"), nsub)))
      .drop("bucket_n")
  }

  /** Three-tier accounting for [[capBuckets]] at (cap, salvageFactor):
    * what it keeps whole, salvages via sub-buckets and drops — the
    * report callers log before committing to a cap. One row:
    * n_buckets, max_bucket, n_kept_buckets, n_salvaged_buckets,
    * n_dropped_buckets, n_dropped_rows (factor 1 salvages nothing). */
  def bucketStats(bandDf: DataFrame, cap: Int,
                  salvageFactor: Int = 1): DataFrame = {
    val hi = cap.toLong * salvageFactor
    bucketSizes(bandDf)
      .agg(count(lit(1)).as("n_buckets"),
        max(col("bucket_n")).as("max_bucket"),
        sum(when(col("bucket_n") <= cap, 1L).otherwise(0L))
          .as("n_kept_buckets"),
        sum(when(col("bucket_n") > cap && col("bucket_n") <= hi, 1L)
          .otherwise(0L)).as("n_salvaged_buckets"),
        sum(when(col("bucket_n") > hi, 1L).otherwise(0L))
          .as("n_dropped_buckets"),
        sum(when(col("bucket_n") > hi, col("bucket_n")).otherwise(0L))
          .as("n_dropped_rows"))
  }

  /** The SINGLE bucket-policy dispatch shared by every band family
    * (minhash candidates, simhashPairs, hyperplane bandedCandidates):
    * None = exact semantics; a cap = [[capBuckets]] at `salvageFactor`
    * (default 1, keep/drop; the sub-bucket id joins as an extra key via
    * the k-prefix convention). salvageFactor without a cap is a
    * contract error, not a silent no-op — raised while the plan builds,
    * so a declarative task fails at compile time. */
  def applyBucketPolicy(bandDf: DataFrame, maxBucket: Option[Int],
                        salvageFactor: Option[Int]): DataFrame = {
    require(salvageFactor.isEmpty || maxBucket.isDefined,
      "salvageFactor requires maxBucket (the salvage tier refines a cap)")
    maxBucket.fold(bandDf)(cap =>
      capBuckets(bandDf, cap, salvageFactor.getOrElse(1)))
  }

  /** Candidate pairs: ids sharing any band bucket, a < b, distinct —
    * the ONE bucket self-join of every band family. Bucket policy per
    * [[applyBucketPolicy]]. The join keys are `band` and the `k*`
    * columns; every other column but `id` (a verify payload such as
    * simhash's `sig`) comes through as `<c>_a`, `<c>_b`. Returns
    * (id_a, id_b, <c>_a..., <c>_b...). */
  def candidates(bandDf: DataFrame, maxBucket: Option[Int] = None,
                 salvageFactor: Option[Int] = None): DataFrame = {
    val capped = applyBucketPolicy(bandDf, maxBucket, salvageFactor)
    val keys = bucketKeys(capped)
    val payload = capped.columns.filterNot(c => c == "id" || keys.contains(c))
    val a = capped.alias("a"); val b = capped.alias("b")
    val keyEq = keys.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    a.join(b, keyEq && col("a.id") < col("b.id"))
      .select((col("a.id").as("id_a") +: col("b.id").as("id_b") +:
        (payload.map(c => col(s"a.$c").as(s"${c}_a")) ++
          payload.map(c => col(s"b.$c").as(s"${c}_b")))): _*)
      .distinct()
  }

  /** The (band, k0) struct array of a bit signature: `totalBits /
    * bandBits` bands, band n holding bits [n*bandBits, (n+1)*bandBits).
    * The ONE band splitter of the bit-signature families — simhash (60
    * bits, 60/numBands a band) and hyperplane LSH (numPlanes bits,
    * rowsPerBand a band), batch and streaming (NearDupStream keys its
    * state on the same structs), so no two paths can drift. */
  def bitBands(sig: Column, totalBits: Int, bandBits: Int): Column = {
    require(bandBits >= 1 && totalBits % bandBits == 0,
      s"bandBits=$bandBits must divide totalBits=$totalBits")
    val mask = (1L << bandBits) - 1L
    array((0 until totalBits / bandBits).map(n => struct(lit(n).as("band"),
      shiftright(sig, n * bandBits).bitwiseAND(mask).as("k0"))): _*)
  }

  /** Exact Jaccard over distinct shingle sets for given pairs. */
  def jaccard(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val common = pairs
      .join(sh.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
  }

  /** Full MinHash-LSH near-dup pipeline: candidates verified by exact
    * Jaccard >= threshold. Returns (id_a, id_b, common, n_a, n_b,
    * jaccard), every row with common > 0.
    *
    * Precondition: `idCol` is a key of `df`, as every SparkEntry corpus
    * guarantees; signatures and shingle sets are built per row.
    *
    * Scale shape — one code path, no Spark job while the plan builds:
    *  - signatures come from the per-row `minhash_sigs` kernel: one
    *    pass over the corpus, no occurrence explode, no groupBy-min
    *    shuffle; banding and the bucket self-join follow;
    *  - the verify builds each CANDIDATE document's shingle set with
    *    the row kernel: the documents are semi-joined to the gated
    *    candidate-id set, then `array_distinct(shingles)` gives one set
    *    row per document — no explode, no aggregate, no shuffle besides
    *    the semi-join. A set row is bounded by the text its own row
    *    already carries. The gate caches the set relation when the
    *    query runs; both pair joins read that cache through it
    *    (shuffled over the budget) and score `size(array_intersect)`.
    * [[jaccard]] over [[docShingles]] is the reference formulation the
    * specs compare this one against, row for row.
    * Cache lifetime is the CALLER's (the returned plan references the
    * cached relations lazily); Verify/Bench clearCache between queries.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 threshold: Double = 0.4, numHashes: Int = 8,
                 rowsPerBand: Int = 2, k: Int = 3,
                 maxBucket: Option[Int] = None,
                 salvageFactor: Option[Int] = None): DataFrame = {
    val sig = minhashSigRows(df, Seq(col(idCol).as("id")), col(textCol),
      k, numHashes)
    // only building `cand` reads the band relation, so it is not cached:
    // a cache would hold one row per document per band for the whole
    // query and cost jobs of its own. A cap policy reads it twice, so
    // the signature kernel runs twice there.
    val cand = candidates(bands(sig, numHashes, rowsPerBand), maxBucket,
      salvageFactor).cache()
    // no distinct: a semi-join right side tolerates duplicates, and the
    // distinct would cost one more (tiny but scheduled) shuffle
    val candIds = GatePlans.gate(cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))))
    // not cached here: its plan holds the candIds gate, so a .cache()
    // would measure cand while the plan is built. The gate caches it
    // when the query runs; both pair joins then read that one cache
    // (caller-owned lifetime, the minhashLsh convention).
    val sets = GatePlans.gate(
      df.select(col(idCol).as("id"), col(textCol).as("text"))
        .join(candIds, Seq("id"), "left_semi")
        .select(col("id"), array_distinct(shingles(col("text"), k)).as("ss"))
        .select(col("id"), col("ss"), size(col("ss")).cast("long").as("n")))
    cand
      .join(sets.select(col("id").as("id_a"),
        col("ss").as("ss_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"),
        col("ss").as("ss_b"), col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ss_a"), col("ss_b"))).cast("long")
          .as("common"), col("n_a"), col("n_b"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      // common > 0: the reference jaccard joins on shared shingles and
      // never sees zero-overlap candidates, so rows agree with it at
      // any threshold, threshold <= 0 included
      .filter(col("common") > 0 && col("jaccard") >= threshold)
  }

  /** Per-row MinHash signatures: the `keep` columns plus m0..m{n-1}
    * from the `minhash_sigs` row kernel — the ONE MinHash kernel of the
    * batch pipeline and of NearDupStream. Rows with fewer than k tokens
    * have an empty signature and drop, exactly like
    * bands(minhash(docShinglesAll))'s absent row (bit-identical values,
    * DedupAnnSpec parity). */
  private[graft] def minhashSigRows(df: DataFrame, keep: Seq[Column],
                                    text: Column, k: Int,
                                    numHashes: Int): DataFrame = {
    val withSig = df.select(keep :+
      graft.functions.minhash_sigs(text, k, numHashes).as("mh"): _*)
    withSig.filter(size(col("mh")) > 0)
      .select(withSig.columns.filter(_ != "mh").toSeq.map(col) ++
        (0 until numHashes).map(i => element_at(col("mh"), i + 1).as(s"m$i")): _*)
  }

  /** Band count whose pigeonhole guarantee covers `maxHamming` bit
    * flips: maxHamming + 1 bands (at most maxHamming of them can
    * differ, so >= 1 is identical). Must divide the 60-bit signature —
    * maxHamming in {0..5, 9, 11, 14, 19, 29, 59}; the ADVICE r3 bug
    * class (fixed 4 bands silently under-recalling at maxHamming >= 4)
    * fails fast here instead. */
  def simhashNumBands(maxHamming: Int): Int = {
    require(maxHamming >= 0 &&
      graft.text.SimHash.Bits % (maxHamming + 1) == 0,
      s"maxHamming=$maxHamming unsupported: need (maxHamming+1) | " +
        s"${graft.text.SimHash.Bits} so the band blocking stays " +
        "complete (pigeonhole)")
    maxHamming + 1
  }

  /** SimHash near-dup: 60-bit signatures (graft.text.SimHash via the
    * codegen'd simhash60 expression), band-join on the 4 15-bit bands
    * (Hamming <= 3 over 4 bands guarantees >= 1 identical band —
    * standard pigeonhole blocking), verify exact Hamming.
    * Blocking is [[bitBands]] and [[candidates]] with `sig` carried as
    * the verify payload; `maxBucket`/`salvageFactor` per
    * [[applyBucketPolicy]] (None = exact). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucket: Option[Int] = None,
                   salvageFactor: Option[Int] = None): DataFrame = {
    import graft.functions.simhash60
    val numBands = simhashNumBands(maxHamming)
    val sig = df.select(col(idCol).as("id"), simhash60(col(textCol)).as("sig"))
    val banded = sig.select(col("id"), col("sig"), explode(bitBands(col("sig"),
        SimHash.Bits, SimHash.Bits / numBands)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"), col("bk.k0").as("k0"))
    candidates(banded, maxBucket, salvageFactor)
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram-Jaccard near-dup via the inverted shingle index
    * (no LSH): every pair sharing >= 1 shingle is scored exactly.
    *
    * `maxDf`: optional document-frequency cap on shingles feeding the
    * inverted-index self-join — the join is quadratic in the hottest
    * shingle's df (one boilerplate 3-gram shared by 10^6 docs means
    * 10^12 pair rows), so at corpus scale candidates must come from
    * rare shingles only. The cap bounds candidate generation; emitted
    * pairs are still scored by exact Jaccard over FULL shingle sets, so
    * values are exact — only pairs sharing nothing rarer than maxDf are
    * missed (the standard recall trade; None = fully exact). */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, k: Int = 3,
                   maxDf: Option[Int] = None): DataFrame = {
    val sh = docShingles(df, idCol, textCol, k).cache()
    // candidates AND their rare-intersection sizes come from ONE
    // aggregation over the rare-shingle self-join (no pair-distinct
    // pass); the hot shingles' contribution to |A∩B| is added back by
    // joining the (small) hot occurrence rows against the candidate
    // pairs only — the full-set Jaccard stays exact while nothing
    // quadratic ever touches a hot shingle.
    //
    // rare/hot split: the occurrences only need a BINARY df <= cap
    // decision, not the df value — and the hot set (df > cap) is small
    // by construction wherever the cap is meaningful, so under the
    // broadcast gate the split is two map-side anti/semi joins over the
    // cached shingle relation. Over the budget the same joins run
    // shuffled against the cached hot set (the df aggregate is computed
    // once either way). Uncapped, the hot set is empty: Catalyst folds
    // the split and the hot-contribution joins away, leaving the one
    // self-join of every shingle.
    val hotShingles = maxDf.fold(sh.select("shingle").limit(0)) { cap =>
      GatePlans.gate(sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") > cap).select("shingle").cache())
    }
    val rare = sh.join(hotShingles, Seq("shingle"), "left_anti")
    val hot = sh.join(hotShingles, Seq("shingle"), "left_semi")
    val a = rare.alias("a"); val b = rare.alias("b")
    val commonRare = a.join(b, col("a.shingle") === col("b.shingle") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common_rare"))
    val commonHot = commonRare.select("id_a", "id_b")
      .join(hot.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(hot.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common_hot"))
    val common = commonRare
      .join(commonHot, Seq("id_a", "id_b"), "left_outer")
      .select(col("id_a"), col("id_b"),
        (col("common_rare") + coalesce(col("common_hot"), lit(0L)))
          .as("common"))
    scoreCommon(common, sh, threshold)
  }

  /** Cluster-keeper output over near-dup pairs — the contract a
    * training-data pipeline actually consumes (the pair list itself is
    * quadratic in duplicate-cluster size; the per-doc keeper row is
    * linear). Connected components by iterative min-label propagation:
    * every doc starts labeled with its own id; each round every doc
    * takes the min over {its label} ∪ {labels of the labels of its
    * neighbors} (the label-of-label hop is pointer doubling, so a chain
    * of length n converges in O(log n) rounds, not O(n)); stop when no
    * label changes. Every step is a hash equi-join + min-aggregate — no
    * global structure, the 100-TB CC shape. The convergence check is a
    * count() per round (bookkeeping-scale action).
    *
    * Input: (id_a, id_b) near-dup pairs (extra columns ignored).
    * Output: (id, keeper) for every id that appears in >= 1 pair, where
    * keeper = min id of its connected component (keeper == id marks the
    * component representative to KEEP; the rest drop).
    *
    * Beyond-reference operator (builder mandate): the reference emits
    * pair lists only. Caches each round's label relation; caller owns
    * the lifetime of the returned (final) relation. */
  def clusters(pairs: DataFrame, maxRounds: Int = 50,
               checkpointDir: Option[String] = None): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // DURABLE mode (checkpointDir set): per-round truncation goes
    // through reliable checkpoint() files, so a 100-TB CC run survives
    // executor loss mid-loop (localCheckpoint blocks die with their
    // executor and fail the job). Superseded rounds' files are deleted
    // eagerly by Checkpoints.release (same call as the local-block
    // release), so only the final round's files — one row per distinct
    // doc id — remain; the caller owns the directory's lifetime for
    // those.
    // save/restore the session's prior checkpoint dir (ADVICE r4 #4:
    // leaving it mutated is a surprising global side effect for the
    // rest of the session). A session that had NO dir set cannot be
    // restored to none (no public unset API) — documented side effect.
    val prevCheckpointDir = sc.getCheckpointDir
    checkpointDir.foreach(sc.setCheckpointDir)
    // LAZY local checkpoint (round-6): the per-round `changed` count is
    // the materializing action, so each round runs ONE pass instead of
    // an eager-checkpoint pass plus a count pass. Durable mode keeps
    // the eager reliable checkpoint (lazy reliable checkpoints recompute
    // the lineage a second time to write the files).
    def pin(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(false)
    // cache the edge relation: every propagation round joins against it,
    // and the upstream pair pipeline (band joins, verifies) must not
    // re-execute per round. ONE pass via explode — the old
    // union(select(a,b), select(b,a)) executed the whole upstream pair
    // pipeline twice to fill this cache (round-6 profile evidence).
    val e = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("ed"))
      .select(col("ed.src").as("src"), col("ed.dst").as("dst"))
      .cache()
    // checkpoint (eager), NOT cache: each round's relation is
    // defined in terms of the previous one (twice, via the hop
    // self-join), so an un-truncated lineage grows ~3x PER ROUND and
    // Catalyst analysis time explodes exponentially even though
    // execution is cheap — the classic iterative-algorithm pitfall.
    // Checkpointing pins the materialized rows and resets the plan to a
    // leaf.
    // seed labels with min(self, direct neighbors) — one aggregation
    // that is exactly the loop's neighbor step, so star-shaped
    // duplicate clusters (the common case) start already-converged and
    // pay only the confirming round
    var lab = pin(e.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("id"),
        least(col("src"), col("nmin")).as("label")))
    var converged = false
    // the id set is fixed for the whole loop (labels change value,
    // never cardinality), so ONE gate decision before the loop holds
    // for every round: under the budget only the groupBy exchange
    // remains per round. The label table has one row per distinct edge
    // source and the same two id columns as the edges, so the measured
    // edge relation bounds it.
    val labelHint: DataFrame => DataFrame =
      if (GatePlans.fits(e)) df => broadcast(df) else df => df
    // the relation pinned this round but not yet promoted to `lab` —
    // a failure between pin(next) and `lab = next` must release BOTH
    // (ADVICE r4 #4: the finally block used to leak next's files)
    var inFlight: DataFrame = null
    // try/finally: a failed round (or the convergence require) must
    // still release the cached edge relation and the last round's
    // checkpoint blocks — without it a long-lived session leaks both
    try {
      var round = 0
      while (!converged && round < maxRounds) {
        // ROUND = ONE join (round-6 rework; the old round ran TWO joins
        // — e⋈lab for neighbor labels plus lab⋈lab for the pointer
        // hop — and then a THIRD join to count changed labels, ~11 AQE
        // stage-jobs per round of kilobyte shuffles). The label table
        // is itself an edge set (id -> label), so augmenting e with the
        // label edges and joining ONCE against lab yields, per id, both
        // the neighbor labels (via e rows) and lab(label) (via the
        // label edge) — pointer doubling included. min(neighbor labels,
        // lab(label)) equals the old min(label, ...) because labels are
        // monotone non-increasing (lab(label) <= label always), and the
        // FIXPOINT is unchanged: stable iff every edge's endpoints
        // agree, i.e. min id per connected component. The label edge
        // also carries the id's CURRENT label as `old`, so the changed
        // count becomes a filter over the (checkpointed) round output —
        // no third join.
        // (A two-steps-per-checkpoint variant was measured and REVERTED:
        // the outer step references its unpinned input twice — union
        // and join side — so the inner step's subtree executed twice
        // per round and the composite cost more than it saved.)
        val g = e.unionByName(
          lab.select(col("id").as("src"), col("label").as("dst"),
            col("label").as("old")), allowMissingColumns = true)
        val next = pin(g
          .join(labelHint(
            lab.select(col("id").as("dst"), col("label").as("nlabel"))),
            Seq("dst"))
          .groupBy(col("src").as("id"))
          .agg(min("nlabel").as("label"), max("old").as("old")))
        inFlight = next
        val changed = next.filter(col("label") =!= col("old")).count()
        // the superseded round's checkpoint blocks are dead the moment
        // `changed` has been counted — release them explicitly
        // (Dataset.unpersist is a no-op for checkpoints, and waiting for
        // the ContextCleaner leaks O(rounds x ids) storage to a
        // long-lived caller)
        graft.util.Checkpoints.release(lab)
        lab = next
        inFlight = null
        converged = changed == 0
        round += 1
      }
      require(converged, s"clusters() did not converge in $maxRounds rounds")
      lab.select(col("id"), col("label").as("keeper"))
    } finally {
      e.unpersist()
      if (inFlight != null && (inFlight ne lab))
        graft.util.Checkpoints.release(inFlight)
      if (!converged) graft.util.Checkpoints.release(lab)
      if (checkpointDir.isDefined) prevCheckpointDir.foreach(sc.setCheckpointDir)
    }
  }

  /** End-to-end near-dup REMOVAL (the composed operator a training-data
    * pipeline runs): keep exactly one doc — the min-id cluster keeper —
    * per connected component of `pairs`, plus every doc that appears in
    * no pair. One anti-join against the (linear-sized) drop list. */
  def keepClusterKeepers(df: DataFrame, idCol: String,
                         pairs: DataFrame): DataFrame = {
    val drop = clusters(pairs).filter(col("id") =!= col("keeper"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Shared Jaccard scoring tail: (id_a, id_b, common) + the distinct
    * shingle relation -> thresholded (..., n_a, n_b, jaccard). */
  private def scoreCommon(common: DataFrame, sh: DataFrame,
                          threshold: Double): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    common
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
  }
}
