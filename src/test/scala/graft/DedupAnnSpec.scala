package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkSessionHelper.{broadcastHints, crossJoinChunks, withBroadcastThreshold}
import graft.text.{Dedup, TextOps}
import graft.vector.Ann

class DedupAnnSpec extends AnyFunSuite with PropHelper {
  lazy val spark = SparkSessionHelper.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
    (3L, "alpha beta gamma delta epsilon zeta eta iota"), // near dup of 1
    (4L, "one two three four five six seven eight nine"),
    (5L, "ab cd") // too short for 3-shingles
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeper = min id") {
    val g = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(g.length == 4)
    assert(g.head == (2L, 1L)) // the dup group keeps id 1
  }

  test("shingles guard: < k tokens gives empty array") {
    val sh = docs.select($"doc_id", size(TextOps.shingles($"text", 3)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sh(5L) == 0 && sh(1L) == 6) // 8 tokens -> 6 shingles
  }

  test("minhash_sigs kernel == aggregated minhash, 8 and 128 hashes") {
    // round-6 parity gate for the per-row signature kernel: identical
    // values per doc, identical doc set (short docs drop both ways) —
    // incl. a doc with REPEATED shingles (the within-row dedup path)
    val rep = docs.union(Seq(
      (6L, "x y z x y z x y z"), // repeated shingles
      (7L, "a b c")              // exactly k tokens -> 1 shingle
    ).toDF("doc_id", "text"))
    for (nh <- Seq(4, 8, 128)) {
      val agg = Dedup.minhash(
          Dedup.docShinglesAll(rep, "doc_id", "text"), nh)
        .collect().map(r => r.getLong(0) ->
          (1 to nh).map(i => r.getLong(i)).toSeq).toMap
      val kern = rep.select(col("doc_id"),
          graft.functions.minhash_sigs(col("text"), 3, nh).as("mh"))
        .filter(size(col("mh")) > 0)
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Long](1).toSeq).toMap
      assert(kern == agg, s"numHashes=$nh")
      assert(!kern.contains(5L)) // too-short doc absent on both paths
    }
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", 0.4)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L))) // identical -> jaccard 1.0
    assert(pairs.find(p => p._1 == 1L && p._2 == 2L).get._3 == 1.0)
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L)))
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash verify == reference pair-join jaccard, gated or shuffled") {
    // the per-document set verify (array_distinct shingles +
    // array_intersect) against the reference formulation: aggregated
    // signatures, the same bands and candidates, and the shuffled
    // pair-join jaccard over distinct (id, shingle) rows. Same rows, same
    // exact values, at a real threshold and at -1.0 (zero-common
    // candidates must be filtered, as the reference never emits them).
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
          (r.getAs[Long]("common"), r.getAs[Long]("n_a"),
            r.getAs[Long]("n_b"), r.getAs[Double]("jaccard")))).toMap
    def lsh(t: Double) = Dedup.minhashLsh(docs, "doc_id", "text", t)
    def reference(t: Double) = rows(Dedup.jaccard(
        Dedup.candidates(Dedup.bands(Dedup.minhash(
          Dedup.docShinglesAll(docs, "doc_id", "text")))),
        Dedup.docShingles(docs, "doc_id", "text"))
      .filter(col("jaccard") >= t))
    for (t <- Seq(0.4, -1.0)) {
      val got = rows(lsh(t))
      assert(got == reference(t) && got.nonEmpty, s"threshold $t")
      assert(got.values.forall(_._1 > 0), s"threshold $t: zero-common row")
    }
    // the set relation's broadcast follows the gate: under the budget
    // both pair joins are hinted; with broadcasts disabled the verify
    // runs shuffled — values identical again
    assert(broadcastHints(lsh(0.4)) == 2)
    // the gate caches the set relation when the query runs (it is not
    // cached while the plan builds): both pair joins read that one cache
    val setScans = lsh(0.4).queryExecution.optimizedPlan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation
          if m.output.exists(_.name == "ss") => m.cacheBuilder
    }
    assert(setScans.size == 2 && setScans.distinct.size == 1, setScans)
    val shuffledSets = withBroadcastThreshold(-1) {
      val df = lsh(0.4)
      assert(broadcastHints(df) == 0)
      rows(df)
    }
    assert(shuffledSets == reference(0.4))
    spark.catalog.clearCache()
  }

  test("simhash: identical docs at hamming 0; band join == brute force") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toMap
    assert(pairs((1L, 2L)) == 0L)
    // brute force over driver-side kernel signatures gives the same pairs
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sigs = texts.map { case (id, t) => id -> graft.text.SimHash.sig60(t) }
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
      if h <= 3
    } yield ((a, b), h.toLong)).toMap
    assert(pairs == brute)
  }

  test("simhash60 expression matches kernel; h60 is 15 md5 nibbles") {
    val t = "alpha beta gamma"
    val got = docs.limit(1).select(graft.functions.simhash60(lit(t)))
      .collect()(0).getLong(0)
    assert(got == graft.text.SimHash.sig60(t))
    // h60 equals the first 15 hex chars of md5 parsed big-endian
    val md = graft.geo.GeoTag.md5Hex("alpha")
    assert(graft.text.SimHash.h60("alpha") ==
      java.lang.Long.parseLong(md.substring(0, 15), 16))
  }

  test("ngram jaccard scores the planted near-dup correctly") {
    val j = Dedup.ngramJaccard(docs, "doc_id", "text", 0.1)
      .filter($"id_a" === 1L && $"id_b" === 3L).collect()(0)
    // 1 and 3 share 5 of their 6 shingles -> 5/(6+6-5)
    assert(j.getAs[Long]("common") == 5L)
    assert(j.getAs[Double]("jaccard") == 5.0 / 7.0)
  }

  test("ngram df-cap: rare-only candidates, exact full-set jaccard values") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        (r.getAs[Long]("common"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Double]("jaccard")))).toMap
    val un = rows(Dedup.ngramJaccard(docs, "doc_id", "text", 0.3))
    // cap above every df: candidate set and values identical to exact
    val cap10 = rows(Dedup.ngramJaccard(docs, "doc_id", "text", 0.3,
      maxDf = Some(10)))
    assert(cap10 == un && un.nonEmpty)
    // cap 1: every SHARED shingle has df >= 2 -> zero candidates (the
    // documented recall trade at hot shingles)
    val cap1 = rows(Dedup.ngramJaccard(docs, "doc_id", "text", 0.3,
      maxDf = Some(1)))
    assert(cap1.isEmpty)
  }

  test("ngram df-cap: broadcast hot-set split == shuffled split") {
    // cap 2 exercises BOTH tiers on the fixture: the 5 shingles shared
    // by docs 1/2/3 are hot (df 3), docs 1/2's tail shingle is rare
    // (df 2) -> pair (1,2) is a rare candidate whose common count needs
    // the hot add-back (5 hot + 1 rare = all 6 shingles, jaccard 1.0).
    // With broadcasts disabled the same anti/semi joins run shuffled;
    // identical rows either way.
    def capped = Dedup.ngramJaccard(docs, "doc_id", "text", 0.3,
      maxDf = Some(2))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        (r.getAs[Long]("common"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Double]("jaccard")))).toMap
    val bcastDf = capped
    assert(broadcastHints(bcastDf) > 0)
    val bcast = rows(bcastDf)
    val shuffled = withBroadcastThreshold(-1) {
      val df = capped
      assert(broadcastHints(df) == 0)
      rows(df)
    }
    assert(bcast == shuffled)
    assert(bcast((1L, 2L)) == ((6L, 6L, 6L, 1.0)))
    // the hot-only pair (1,3) is correctly absent: nothing rarer than
    // the cap is shared
    assert(!bcast.contains((1L, 3L)))
  }

  test("broadcast gate boundary: budget = measured bytes hints, one less does not") {
    import org.apache.spark.sql.graft.GatePlans
    val small = spark.range(50)
      .select(col("id").as("k"), (col("id") * 3).as("v")).cache()
    try {
      val big = spark.range(1000).select(col("id").as("k"))
      val bytes = GatePlans.sizeInBytes(small)
      assert(bytes > 0)
      def hints = broadcastHints(big.join(GatePlans.gate(small), "k"))
      assert(withBroadcastThreshold(bytes)(hints) == 1)
      assert(withBroadcastThreshold(bytes - 1)(hints) == 0)
    } finally small.unpersist()
  }

  val vecs = (0L until 20L).map { i =>
    val rnd = new scala.util.Random(i)
    (i, Array.fill(64)(rnd.nextFloat() * 2 - 1))
  }.toDF("id", "emb")

  test("cosineTopK matches a driver-side brute force") {
    val q = vecs.filter($"id" < 3)
      .select($"id".as("qid"), Ann.quantize($"emb").as("qv"))
    val c = vecs.select($"id", Ann.quantize($"emb").as("v"))
    val got = Ann.cosineTopK(q, c, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // reference: same quantization in plain Scala
    val qv = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(f => (f.toDouble * 10000.0).toLong).toArray).toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    for (qid <- 0L until 3L) {
      val expect = qv.keys.toSeq
        .map(id => (id, cos(qv(qid), qv(id))))
        .sortBy { case (id, c) => (-c, id) }.take(3)
      val mine = got.filter(_._1 == qid).sortBy(_._2).map(r => (r._3, r._4))
      assert(mine.toSeq == expect, s"qid=$qid")
    }
  }

  test("cosineNearDup == brute-force same-signature pairs >= threshold") {
    val c = vecs.select($"id", Ann.quantize($"emb").as("v"))
    val got = Ann.cosineNearDup(c, 64, 0.05).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val qv = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(f => (f.toDouble * 10000.0).toLong).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    def sig(v: Array[Long]): Long = (0 until Ann.NumPlanes).map { p =>
      val w = Ann.planeArray(p, 64).toArray
      if (dot(w, v) > 0) 1L << p else 0L
    }.sum
    val brute = (for {
      a <- qv.keys; b <- qv.keys
      if a < b && sig(qv(a)) == sig(qv(b)) && cos(qv(a), qv(b)) >= 0.05
    } yield ((a, b), cos(qv(a), qv(b)))).toMap
    assert(got.keySet == brute.keySet)
    got.foreach { case (k, v) => assert(v == brute(k)) }
  }

  test("two-phase topk_by == window row_number on ties/skew/small groups") {
    // adversarial set: heavy tie groups, one giant group, groups < k
    val rows = (0L until 4000L).map { i =>
      val g = if (i < 3000) 0L else 1L + i % 7 // group 0 is hot
      (g, i, (i % 11).toDouble) // many score ties -> id tiebreak matters
    } ++ Seq((99L, 100000L, 1.0)) // singleton group (n < k)
    val df = rows.toDF("qid", "id", "score")
    for (asc <- Seq(true, false)) {
      val got = graft.ops.TopK.perGroup(df, Seq("qid"), "score", "id", 5, asc)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
      val expect = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        val sorted = rs.sortBy { case (_, id, s) => (if (asc) s else -s, id) }
        sorted.take(5).zipWithIndex.map { case ((_, id, s), i) => (g, i + 1, id, s) }
      }.sortBy(t => (t._1, t._2))
      assert(got.toSeq == expect, s"ascending=$asc")
    }
  }

  test("TopKBuffer property: any inserts+merges == sort-take reference") {
    import org.scalacheck.{Gen, Prop}
    val entry = for {
      s <- Gen.chooseNum(-5.0, 5.0)
      nul <- Gen.prob(0.1)
      id <- Gen.chooseNum(0L, 40L)
    } yield (s, nul, id)
    checkProp(Prop.forAll(Gen.listOf(entry), Gen.chooseNum(1, 8),
        Gen.oneOf(true, false), Gen.chooseNum(1, 4)) {
      (rows: List[(Double, Boolean, Long)], k: Int, asc: Boolean, splits: Int) =>
      // distinct ids (the operator contract: id is a row id)
      val uniq = rows.groupBy(_._3).map(_._2.head).toSeq
      // scatter across `splits` partial buffers, then merge — models the
      // map-side partial + reduce-side merge path
      val parts = uniq.zipWithIndex.groupMap(_._2 % splits)(_._1)
      val bufs = (0 until splits).map { p =>
        val b = new graft.functions.TopKBuffer(k, asc)
        parts.getOrElse(p, Seq.empty).foreach { case (s, n, id) => b.insert(s, n, id) }
        b
      }
      val target = new graft.functions.TopKBuffer(k, asc)
      bufs.foreach(_.mergeInto(target))
      val got = target.sorted().toSeq.map { r =>
        val row = r.asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
        (row.getLong(0), if (row.isNullAt(1)) None else Some(row.getDouble(1)))
      }
      val want = uniq.sortBy { case (s, n, id) =>
        // nulls last in both directions; ties -> smaller id
        (if (n) 1 else 0, if (n) 0.0 else (if (asc) s else -s), id)
      }.take(k).map { case (s, n, id) => (id, if (n) None else Some(s)) }
      got == want
    })
  }

  test("knnJoin: empty points input returns an empty frame, not null") {
    val pts = Seq.empty[(Long, Double, Double)].toDF("qid", "qlon", "qlat")
    val pages = Seq((1L, 2.0, 3.0)).toDF("id", "lon", "lat")
      .withColumn("cell", graft.functions.cell_of($"lon", $"lat", 8))
    val out = graft.ops.Knn.knnJoin(pts, pages, 8, 3)
    assert(out != null && out.count() == 0L)
  }

  /** Driver-side brute-force kNN: (qid, rank, id, dist2) by (dist2, id). */
  private def bruteKnn(pts: Seq[(Long, Double, Double)],
                       pages: Seq[(Long, Double, Double)], k: Int) =
    pts.flatMap { case (q, qlon, qlat) =>
      pages.map { case (id, lon, lat) =>
        ((lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat), id)
      }.sortBy(identity)(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        .take(k).zipWithIndex.map { case ((d, id), i) => (q, i + 1, id, d) }
    }.sortBy(t => (t._1, t._2))

  private def knnDf(pts: Seq[(Long, Double, Double)],
                    pages: Seq[(Long, Double, Double)], res: Int, k: Int,
                    maxRadius: Int) =
    graft.ops.Knn.knnJoin(pts.toDF("qid", "qlon", "qlat"),
      pages.toDF("id", "lon", "lat")
        .withColumn("cell", graft.functions.cell_of($"lon", $"lat", res)),
      res, k, maxRadius)

  private def knnRows(pts: Seq[(Long, Double, Double)],
                      pages: Seq[(Long, Double, Double)], res: Int, k: Int,
                      maxRadius: Int) =
    knnDf(pts, pages, res, k, maxRadius).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))

  test("knnJoin == driver-side brute-force top-k (clustered, uniform, antimeridian/pole pages)") {
    val rnd = new scala.util.Random(11)
    val centers = Seq((10.0, 45.0), (-70.0, -20.0), (120.0, 30.0))
    val clustered = (0 until 150).map { i =>
      val (lon, lat) = centers(i % 3)
      (i.toLong, lon + rnd.nextGaussian(), lat + rnd.nextGaussian())
    }
    val uniform = (0 until 150).map { i =>
      (1000L + i, rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)
    }
    val edges = (0 until 60).map { i =>
      val off = rnd.nextDouble() * 0.5
      val (lon, lat) = i % 4 match {
        case 0 => (180.0 - off, rnd.nextDouble() * 20 - 10)
        case 1 => (-180.0 + off, rnd.nextDouble() * 20 - 10)
        case 2 => (rnd.nextDouble() * 360 - 180, 90.0 - off)
        case _ => (rnd.nextDouble() * 360 - 180, -90.0 + off)
      }
      (2000L + i, lon, lat)
    } ++ Seq((2100L, 180.0, 0.0), (2101L, -180.0, 0.0), (2102L, 0.0, 90.0), (2103L, 0.0, -90.0))
    // at +-180, at the poles, in clusters, and in empty regions
    val pts = Seq((0L, 180.0, 0.0), (1L, -180.0, 5.0), (2L, 0.0, 90.0),
      (3L, 30.0, -90.0), (4L, 10.5, 44.5), (5L, -70.0, -21.0),
      (6L, -30.0, -60.0), (7L, 150.0, -45.0), (8L, 121.0, 31.0), (9L, -100.0, 70.0))
    val fixtures = Map("clustered" -> clustered, "uniform" -> uniform, "edges" -> edges)
    // every res, k and maxRadius with every fixture, in 12 runs
    val cases = Seq(
      ("clustered", 8, 3, 16), ("uniform", 8, 7, 2), ("edges", 8, 1, 16), ("clustered", 8, 7, 0),
      ("uniform", 6, 3, 16), ("edges", 6, 7, 2), ("clustered", 6, 1, 2), ("edges", 6, 3, 0),
      ("uniform", 3, 1, 0), ("edges", 3, 3, 16), ("clustered", 3, 7, 16), ("uniform", 3, 7, 2))
    for ((name, res, k, maxRadius) <- cases) {
      val pages = fixtures(name)
      assert(knnRows(pts, pages, res, k, maxRadius) == bruteKnn(pts, pages, k),
        s"$name res=$res k=$k maxRadius=$maxRadius")
    }
    spark.catalog.clearCache()
  }

  test("knn relational bookkeeping path == driver IN-list path") {
    // The per-query bookkeeping (radius per qid, residue of unresolved
    // qids) is relational only; the driver-side IN-list it once had is
    // gone. On the fixture that compared the two, the relational plan
    // must still give the driver-computed top-k, at 6 and 60 queries.
    val pages = (0L until 400L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, rnd.nextDouble() * 60 - 30, rnd.nextDouble() * 40 - 10)
    }
    for (n <- Seq(6L, 60L)) {
      val pts = (0L until n).map(i => (i, -10.0 + (i % 6) * 4.0 + i / 6, 5.0 + i % 6))
      assert(knnRows(pts, pages, 8, 3, 16) == bruteKnn(pts, pages, 3), s"queries=$n")
    }
  }

  test("ivfTopK == driver-side mirror (assign -> 2-probe -> exact top-k)") {
    val q = vecs.filter($"id" < 5)
      .select($"id".as("qid"), Ann.quantize($"emb").as("qv"))
    val c = vecs.select($"id", Ann.quantize($"emb").as("v"))
    val got = Ann.ivfTopK(q, c, 64, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val qv = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(f => (f.toDouble * 10000.0).toLong).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    def score(cid: Int, v: Array[Long]): Long = {
      val w = Ann.centroidArray(cid, 64).toArray
      w.map(x => x * x).sum - 2L * dot(w, v)
    }
    def cell(v: Array[Long], exclude: Int = -1): Int =
      (0 until Ann.NumCentroids).filter(_ != exclude)
        .minBy(cid => (score(cid, v), cid))
    val cells = qv.map { case (id, v) => id -> cell(v) }
    for (qid <- 0L until 5L) {
      val probes = Set(cell(qv(qid)), cell(qv(qid), exclude = cell(qv(qid))))
      val cands = qv.keys.filter(id => probes.contains(cells(id)))
      val expect = cands.map(id => (id, cos(qv(qid), qv(id)))).toSeq
        .sortBy { case (id, s) => (-s, id) }.take(3)
      val mine = got.filter(_._1 == qid).sortBy(_._2).map(r => (r._3, r._4))
      assert(mine.toSeq == expect, s"qid=$qid")
      assert(mine.head._1 == qid) // self lives in its own cell -> rank 1
    }
  }

  test("clusters: min-label CC over chains, stars and singleton pairs") {
    // chain 1-2-3-4-5 (forces multi-round pointer doubling), star
    // 10-{11,12,13}, lone pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (10L, 13L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(got == want)
    // keeper rows are exactly one per component
    assert(got.count { case (id, k) => id == k } == 3)
  }

  test("keepClusterKeepers: survivors = component keepers + untouched") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val survivors = Dedup.keepClusterKeepers(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 4L, 5L)) // 2,3 fold into keeper 1
  }

  test("band-bucket cap: generous cap is survivor-identical, cap=1 drops") {
    def mh(cap: Option[Int], sf: Option[Int]) =
      Dedup.minhashLsh(docs, "doc_id", "text", 0.4, maxBucket = cap,
        salvageFactor = sf).collect().toSet
    def sh(cap: Option[Int], sf: Option[Int]) =
      Dedup.simhashPairs(docs, "doc_id", "text", 3, maxBucket = cap,
        salvageFactor = sf).collect().toSet
    for ((pairs, family) <- Seq((mh _, "minhash"), (sh _, "simhash"))) {
      val un = pairs(None, None)
      val capped = Seq(1, 2, 100).map(c => c -> pairs(Some(c), None)).toMap
      assert(capped(100) == un && un.nonEmpty, family)
      // cap 1: every shared bucket has >= 2 ids -> no candidates at all
      assert(capped(1).isEmpty, family)
      // a cap alone is the salvage tier at factor 1: same rows, every column
      capped.foreach { case (c, rows) =>
        assert(pairs(Some(c), Some(1)) == rows, s"$family cap $c")
      }
    }
    // the drop report is honest: cap=1 reports every shared bucket
    val bnd = Dedup.bands(Dedup.minhash(
      Dedup.docShinglesAll(docs, "doc_id", "text")))
    val stats = Dedup.bucketStats(bnd, 1).collect()(0)
    assert(stats.getAs[Long]("n_dropped_buckets") > 0)
    assert(stats.getAs[Long]("max_bucket") >= 2)
  }

  test("bucket salvage recovers pairs the drop policy loses, exactly") {
    // three identical docs: every shared band bucket has n = 3, so the
    // drop policy at cap 2 loses ALL pairs; salvage splits the bucket
    // into ceil(3/2) = 2 sub-buckets — pigeonhole forces >= 2 ids to
    // share one, so >= 1 pair survives, with the exact uncapped hamming
    val trip = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    def pairs(mb: Option[Int], sf: Option[Int]) =
      Dedup.simhashPairs(trip, "doc_id", "text", 3,
          maxBucket = mb, salvageFactor = sf)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toMap
    val un = pairs(None, None)
    val dropped = pairs(Some(2), None)
    val salvaged = pairs(Some(2), Some(8))
    assert(un.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(dropped.isEmpty)
    assert(salvaged.nonEmpty, "salvage recovered nothing")
    salvaged.foreach { case (k, h) => assert(un(k) == h) } // exact values
    // beyond cap*factor the bucket still drops (three-tier policy)
    assert(pairs(Some(2), Some(1)).isEmpty)
    // the three-tier accounting report matches the fixture's buckets:
    // with cap 2 / factor 8, the n=3 buckets all salvage, nothing drops
    import graft.functions.simhash60
    val nib = trip.select($"doc_id".as("id"), simhash60($"text").as("sig"))
      .select($"id", explode(Dedup.bitBands($"sig", 60, 15)).as("bk"))
      .select($"id", $"bk.band".as("band"), $"bk.k0".as("k0"))
    val st = Dedup.bucketStats(nib, 2, 8).collect()(0)
    assert(st.getAs[Long]("n_salvaged_buckets") > 0)
    assert(st.getAs[Long]("n_dropped_buckets") == 0)
    assert(st.getAs[Long]("n_kept_buckets") +
      st.getAs[Long]("n_salvaged_buckets") == st.getAs[Long]("n_buckets"))
    // factor 1 is the keep/drop split of the bucket sizes counted here
    val sizes = nib.collect()
      .groupBy(r => (r.getAs[Int]("band"), r.getAs[Long]("k0")))
      .values.map(_.length.toLong).toSeq
    val st1 = Dedup.bucketStats(nib, 2).collect()(0)
    assert(st1.getAs[Long]("n_buckets") == sizes.size)
    assert(st1.getAs[Long]("max_bucket") == sizes.max)
    assert(st1.getAs[Long]("n_kept_buckets") == sizes.count(_ <= 2))
    assert(st1.getAs[Long]("n_salvaged_buckets") == 0)
    assert(st1.getAs[Long]("n_dropped_buckets") == sizes.count(_ > 2))
    assert(st1.getAs[Long]("n_dropped_rows") == sizes.filter(_ > 2).sum)
  }

  test("minhash salvage recovers pairs the drop policy loses, exactly") {
    // three identical docs share every band bucket (n = 3): the drop
    // policy at cap 2 loses all pairs, salvage splits into 2
    // sub-buckets and pigeonhole recovers >= 1, verified at the exact
    // uncapped jaccard
    val trip = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    def pairs(mb: Option[Int], sf: Option[Int]) =
      Dedup.minhashLsh(trip, "doc_id", "text", 0.4, maxBucket = mb,
          salvageFactor = sf)
        .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
          r.getAs[Double]("jaccard"))).toMap
    val un = pairs(None, None)
    val dropped = pairs(Some(2), None)
    val salvaged = pairs(Some(2), Some(8))
    assert(un.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(dropped.isEmpty)
    assert(salvaged.nonEmpty)
    salvaged.foreach { case (k, j) => assert(un(k) == j && j == 1.0) }
  }

  test("cosineNearDupBanded: exact values, superset of full-sig blocking") {
    val c = vecs.select($"id", Ann.quantize($"emb").as("v"))
    val qv = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(f => (f.toDouble * 10000.0).toLong).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    val exact = (for { a <- qv.keys; b <- qv.keys
      if a < b && cos(qv(a), qv(b)) >= 0.05 }
      yield ((a, b), cos(qv(a), qv(b)))).toMap
    val banded = Ann.cosineNearDupBanded(c, 64, 0.05, 16, 8).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // precision is exact (verify step): every pair is a true pair with
    // the exact brute-force cosine
    banded.foreach { case (k, v) => assert(exact.contains(k) && exact(k) == v) }
    // recall >= the full-16-plane-signature config by construction
    // (full-signature match implies every band matches)
    val full16 = Ann.cosineNearDup(c, 64, 0.05, numPlanes = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full16.subsetOf(banded.keySet))
    // document the measured recall (asserted loosely; exact value is
    // fixture-dependent): banding must find a nontrivial share
    val recall = banded.size.toDouble / exact.size
    info(f"banded recall vs exact pairs: ${recall}%.3f " +
      s"(${banded.size}/${exact.size}; full-16-sig finds ${full16.size})")
    assert(recall >= full16.size.toDouble / exact.size)
  }

  test("embedding banded cap: salvage tier recovers pairs, exactly") {
    // three identical vectors share every band bucket (n = 3): drop at
    // cap 2 loses all pairs; the shared three-tier policy (the same
    // Dedup.candidates path as minhash/simhash) salvages >= 1 by
    // pigeonhole, verified at the exact cosine
    val v = Array.fill(16)(0.5f)
    val w = Array.fill(16)(-0.5f)
    val trip = Seq((1L, v), (2L, v), (3L, v), (4L, w)).toDF("id", "emb")
      .select($"id", Ann.quantize($"emb").as("v"))
    def pairs(mb: Option[Int], sf: Option[Int]) =
      Ann.cosineNearDupBanded(trip, 16, 0.5, 8, 4, mb, sf).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val un = pairs(None, None)
    assert(un.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs(Some(2), None).isEmpty)
    val salvaged = pairs(Some(2), Some(8))
    assert(salvaged.nonEmpty)
    salvaged.foreach { case (k, cos) => assert(un(k) == cos && cos == 1.0) }
  }

  test("trainCodebook: deterministic, recall >= LCG codebook on fixture") {
    val c = vecs.select($"id", Ann.quantize($"emb").as("v"))
    val q = vecs.filter($"id" < 10)
      .select($"id".as("qid"), Ann.quantize($"emb").as("qv"))
    val trained = Ann.trainCodebook(c, 64, iters = 3)
    val again = Ann.trainCodebook(c, 64, iters = 3)
    assert(trained == again) // exact integer determinism
    assert(trained != Ann.lcgCodebook(64)) // it actually moved
    val qv = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(f => (f.toDouble * 10000.0).toLong).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    // ground truth: exact top-3 by brute force
    val truth = (0L until 10L).map { qid =>
      qid -> qv.keys.toSeq.map(id => (id, cos(qv(qid), qv(id))))
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSet
    }.toMap
    def recall(book: Option[Seq[Seq[Long]]]): Double = {
      val got = Ann.ivfTopK(q, c, 64, 3, book).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      (0L until 10L).map(qid =>
        (got.getOrElse(qid, Set.empty) intersect truth(qid)).size.toDouble /
          truth(qid).size).sum / 10.0
    }
    val rTrained = recall(Some(trained))
    val rLcg = recall(None)
    info(f"ivf recall: trained=$rTrained%.3f lcg=$rLcg%.3f")
    assert(rTrained >= rLcg)
  }

  test("lsh top-k returns each query itself at rank 1 (same bucket)") {
    val q = vecs.select($"id".as("qid"), Ann.quantize($"emb").as("qv"))
    val c = vecs.select($"id", Ann.quantize($"emb").as("v"))
    val rank1 = Ann.lshTopK(q, c, 64, 1).collect()
    assert(rank1.length == 20)
    rank1.foreach(r => assert(r.getLong(0) == r.getLong(2))) // self is top
  }

  test("cosineTopK chunked query loop == broadcast path (exact)") {
    // a 1 KiB budget splits 20 queries into several xxhash64-modulo
    // chunks, one broadcast cross join each under one Union; rows
    // partition across chunks, so the top-k over the union must be
    // row-identical to the single-broadcast plan (the over-budget
    // driver-OOM fallback, VERDICT r3 item 1). A non-positive threshold
    // cannot disable the broadcast the cross join needs: chunks are
    // sized by Spark's default budget, i.e. one chunk here. The chunks
    // are decided when the plan is optimized, so each check optimizes
    // under its own threshold.
    val q = vecs.select($"id".as("qid"), Ann.quantize($"emb").as("qv"))
    val c = vecs.select($"id", Ann.quantize($"emb").as("v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val one = Ann.cosineTopK(q, c, 3)
    assert(crossJoinChunks(one) == Seq(1))
    withBroadcastThreshold(1024) {
      val chunked = Ann.cosineTopK(q, c, 3)
      val chunks = crossJoinChunks(chunked)
      assert(chunks.size == 1 && chunks.head >= 3, s"chunks $chunks")
      assert(rows(chunked) == rows(one))
    }
    for (t <- Seq(0, -1)) withBroadcastThreshold(t) {
      val df = Ann.cosineTopK(q, c, 3)
      assert(crossJoinChunks(df) == Seq(1), s"threshold $t")
      assert(rows(df) == rows(one))
    }
  }

  test("lsh/ivf top-k: shuffled fallback == broadcast path (exact)") {
    val q = vecs.select($"id".as("qid"), Ann.quantize($"emb").as("qv"))
    val c = vecs.select($"id", Ann.quantize($"emb").as("v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // with broadcasts disabled every path runs the no-hint equi-join
    for (mk <- Seq(() => Ann.lshTopK(q, c, 64, 3),
                   () => Ann.lshTopKMultiProbe(q, c, 64, 3),
                   () => Ann.ivfTopK(q, c, 64, 3))) {
      val shuffled = withBroadcastThreshold(-1) {
        val df = mk()
        assert(broadcastHints(df) == 0)
        rows(df)
      }
      assert(shuffled == rows(mk()))
    }
  }

  test("clusters: durable-checkpoint mode gives identical components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
      .toString
    try {
      val durable = Dedup.clusters(pairs, checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = Dedup.clusters(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(durable == local && durable.nonEmpty)
      // the durable path really wrote reliable checkpoint files, and
      // Checkpoints.release deleted every SUPERSEDED round eagerly —
      // only the final label relation's rdd-* directory survives
      import scala.jdk.CollectionConverters._
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
        .toSeq
      assert(rddDirs.size == 1,
        s"expected exactly the final round's checkpoint, got $rddDirs")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("simhash maxHamming derives the band count (pigeonhole complete)") {
    // ADVICE r3 #1: fixed 4x15 bands only guarantee Hamming <= 3; at
    // maxHamming 4 the blocking must widen to 5x12 bands or it silently
    // under-recalls. Verify against driver-side brute force.
    assert(Dedup.simhashNumBands(3) == 4 && Dedup.simhashNumBands(4) == 5)
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sigs = texts.map { case (id, t) => id -> graft.text.SimHash.sig60(t) }
    for (mh <- Seq(4, 5)) {
      val got = Dedup.simhashPairs(docs, "doc_id", "text", mh).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toMap
      val brute = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        h = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
        if h <= mh
      } yield ((a, b), h.toLong)).toMap
      assert(got == brute, s"maxHamming=$mh")
    }
    // 60 % 7 != 0: unsupported values fail fast instead of under-recalling
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "doc_id", "text", 6)
    }
  }

  test("knn brute-force residue: exact, and chunked to the broadcast budget") {
    val near = (0L until 6L).map(i => (i, -10.0 + i * 4.0, 5.0 + i))
    val far = (6L until 10L).map(i => (i, -185.0 + i, -89.0)) // far from every page
    val pages = (0L until 400L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, rnd.nextDouble() * 60 - 30, rnd.nextDouble() * 40 - 10)
    }
    val pts = near ++ far
    val exact = bruteKnn(pts, pages, 3)
    // maxRadius 0 sends every query with fewer than k pages in its own
    // cell to the residue; maxRadius 2 still leaves the far ones there
    for (maxRadius <- Seq(0, 2)) assert(knnRows(pts, pages, 8, 3, maxRadius) == exact)
    // the residue is the gated broadcast cross join: a tiny budget
    // splits it into chunks under one Union, a non-positive threshold
    // sizes chunks by Spark's default budget (one chunk); exact either way
    def chunks = crossJoinChunks(knnDf(pts, pages, 8, 3, 0))
    assert(chunks == Seq(1))
    for ((t, many) <- Seq(64 -> true, 0 -> false, -1 -> false))
      withBroadcastThreshold(t) {
        val c = chunks
        assert(c.size == 1 && (c.head > 1) == many, s"threshold $t: chunks $c")
        assert(knnRows(pts, pages, 8, 3, 0) == exact, s"threshold $t")
      }
    spark.catalog.clearCache()
  }

  test("multi-probe lsh: candidate pool is a superset of single-bucket") {
    val q = vecs.select($"id".as("qid"), Ann.quantize($"emb").as("qv"))
    val c = vecs.select($"id", Ann.quantize($"emb").as("v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val single = rows(Ann.lshTopK(q, c, 64, 5))
    val mp = rows(Ann.lshTopKMultiProbe(q, c, 64, 5))
    // two probed buckets cover at least the single bucket: every query
    // returns at least as many rows, self still at rank 1, and the
    // rank-1 score can only improve
    assert(mp.length >= single.length)
    val mp1 = mp.filter(_._2 == 1).map(r => r._1 -> r._4).toMap
    val s1 = single.filter(_._2 == 1).map(r => r._1 -> r._4).toMap
    s1.foreach { case (qid, cos) => assert(mp1(qid) >= cos, s"qid=$qid") }
    mp.filter(_._2 == 1).foreach(r => assert(r._1 == r._3))
  }
}
