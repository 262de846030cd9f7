package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup-family scaling probe (iteration tool, like graft.Scaling for
  * the tile job): runs exact/simhash/minhash dedup over a deterministic
  * synthetic near-dup corpus — and the EMBEDDING near-dup family over a
  * matching synthetic vector corpus — at nDocs and 4*nDocs and reports
  * the wall-time ratio. The 100-TB claim for the dedup family is that every
  * stage is linear in corpus size (candidate generation by equi-join,
  * capped buckets) — the measured ratio at two sizes on one box is the
  * sandbox-scale evidence (ratio ~4 with fixed scheduling overhead
  * amortizing as n grows; a quadratic stage would read ~16).
  *
  * The corpus is seeded by row id (no external data): 40-token texts
  * over a 4096-word vocabulary via an LCG. Docs with id % 10 in 2..9
  * are unique; id % 10 == 0 is an EXACT duplicate of the unique doc at
  * id-1; id % 10 == 1 is a NEAR-dup of the unique doc at id-3 (same
  * 40-token prefix, one "zzNN" token appended — shares all but the
  * last k shingles, so it lands in the same minhash band buckets).
  * ~20% of docs are therefore involved in dup pairs at every scale,
  * so candidate volumes grow linearly by construction, like a
  * fixed-dup-rate web crawl.
  */
object ScalingDedup {

  private val Vocab: Array[String] = (0 until 4096).map(i => f"w$i%04x").toArray

  def text(id: Long): String = {
    val sb = new StringBuilder(5 * 40)
    var x = id
    var i = 0
    while (i < 40) {
      x = x * 6364136223846793005L + 1442695040888963407L
      sb.append(Vocab(((x >>> 33) % 4096).toInt))
      if (i < 39) sb.append(' ')
      i += 1
    }
    sb.result()
  }

  def docText(id: Long): String =
    if (id >= 10 && id % 10 == 0) text(id - 1) // exact dup of a UNIQUE doc
    else if (id >= 10 && id % 10 == 1) // near dup of another unique doc
      text(id - 3) + " zz" + (id % 97)
    else text(id)

  def corpus(s: SparkSession, nDocs: Long, parts: Int): DataFrame = {
    import s.implicits._
    s.range(0, nDocs, 1, parts)
      .map(id => (id, docText(id)))
      .toDF("doc_id", "text")
  }

  /** The text corpus with a CONSTANT boilerplate trailer on every doc:
    * the pure-trailer 3-shingles have df = nDocs — hot at any cap and
    * any scale — so the capped ngram leg exercises every piece of the
    * round-6 split: rare-shingle candidate generation, the broadcast
    * hot set (O(1) rows however large the corpus), and the hot
    * add-back contributing to every candidate pair's |A∩B|. This is
    * the fixed-boilerplate shape of a real crawl (headers/footers
    * shared corpus-wide). */
  def boilerCorpus(s: SparkSession, nDocs: Long, parts: Int): DataFrame = {
    import s.implicits._
    s.range(0, nDocs, 1, parts)
      .map(id => (id, docText(id) + " zqa zqb zqc zqd"))
      .toDF("doc_id", "text")
  }

  /** Deterministic embedding corpus with the same fixed-dup-rate
    * structure as the text corpus (VERDICT r4 next #4: the vector
    * family needs the same measured linearity evidence as text dedup):
    * dim-64 float vectors from an LCG; id % 10 == 0 is an EXACT copy of
    * the unique vector at id-1; id % 10 == 1 is a NEAR-dup of the one
    * at id-3 (one coordinate nudged by 1% — cosine ~0.9999, same band
    * buckets with overwhelming probability), so verified-pair volume
    * grows linearly by construction. */
  val EmbedDim = 64

  def vec(id: Long): Array[Float] = {
    val a = new Array[Float](EmbedDim)
    var x = id + 777L
    var i = 0
    while (i < EmbedDim) {
      x = x * 6364136223846793005L + 1442695040888963407L
      a(i) = (((x >>> 33) % 20001L) - 10000L) / 10000.0f
      i += 1
    }
    a
  }

  def embedVec(id: Long): Array[Float] =
    if (id >= 10 && id % 10 == 0) vec(id - 1)
    else if (id >= 10 && id % 10 == 1) {
      val a = vec(id - 3).clone()
      a(EmbedDim - 1) = a(EmbedDim - 1) * 1.01f + 0.001f
      a
    } else vec(id)

  def embedCorpus(s: SparkSession, n: Long, parts: Int): DataFrame = {
    import s.implicits._
    s.range(0, n, 1, parts)
      .map(id => (id, embedVec(id)))
      .toDF("id", "emb")
      .select(col("id"),
        graft.vector.Ann.quantize(col("emb")).as("v"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val n0 = sys.env.getOrElse("SPARK_GRAFT_DEDUP_DOCS", "50000").toLong
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    import graft.text.Dedup
    case class Job(name: String,
                   mk: (SparkSession, Long, Int) => DataFrame,
                   job: DataFrame => DataFrame)
    def run(j: Job, n: Long): Double = {
      val c = j.mk(spark, n, cpus * 4)
      val t0 = System.nanoTime()
      val rows = j.job(c).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"DEDUPSCALE ${j.name}%-10s n=$n%-8d wall=$wall%7.2fs rows=$rows")
      wall
    }
    val allJobs: Seq[Job] = Seq(
      Job("exact", corpus, c => Dedup.exact(c, "doc_id", "text")
        .filter(col("n_dups") > 1)),
      Job("simhash", corpus, c => Dedup.simhashPairs(c, "doc_id", "text",
        maxBucket = Some(64))),
      Job("minhash", corpus, c => Dedup.minhashLsh(c, "doc_id", "text", 0.4,
        maxBucket = Some(64))),
      // capped ngram-Jaccard over the boilerplate corpus (round-6 #7):
      // candidates from rare shingles, hot set broadcast (its size is
      // CONSTANT as the corpus grows — the trailer shingles), hot
      // add-back on every pair. Linear candidates by construction.
      Job("ngram-cap", boilerCorpus, c => Dedup.ngramJaccard(
        c, "doc_id", "text", 0.4, maxDf = Some(8))),
      // the vector family: banded hyperplane blocking + exact-cosine
      // verify over the synthetic embedding corpus (same linearity
      // contract, measured with the same 4x protocol). Band selectivity
      // is the scale knob: 2 bands x 24-bit keys (16.7M buckets/band)
      // keep expected random-collision candidates ~n^2/2^24 — negligible
      // at both probe sizes — so candidates (and wall) track the
      // CONSTRUCTED dup pairs, which grow linearly. At 16/8 (the
      // gate-scale config) 800k vectors share 256 buckets/band and the
      // cap's drop tier deletes everything: bucket count must scale
      // with corpus size, which is the documented 100-TB sizing rule.
      Job("embed", embedCorpus, c => graft.vector.Ann.cosineNearDupBanded(
        c, EmbedDim, 0.9, numPlanes = 48, rowsPerBand = 24,
        maxBucket = Some(64), salvageFactor = Some(8))))
    // iteration aid: SPARK_GRAFT_DEDUP_JOBS=minhash,embed restricts the run
    val jobs = sys.env.get("SPARK_GRAFT_DEDUP_JOBS")
      .map(_.split(",").map(_.trim).toSet)
      .map(only => allJobs.filter(j => only(j.name)))
      .getOrElse(allJobs)
    // warm (JIT + codegen) on the small size, then measure both sizes
    jobs.foreach { j => run(j.copy(name = s"warm-${j.name}"), n0 / 5) }
    // mode=single: one size only (for A/B runs across parallelism
    // levels — set SPARK_GRAFT_CPUS per run and compare the walls)
    if (sys.env.get("SPARK_GRAFT_DEDUP_MODE").contains("single")) {
      jobs.foreach { j =>
        val best = Seq.fill(2)(run(j, n0)).min
        println(f"DEDUPSCALE ${j.name}%-10s cpus=$cpus best=$best%.2fs")
      }
    } else {
      val ratios = jobs.map { j =>
        val t1 = run(j, n0)
        val t4 = run(j, n0 * 4)
        println(f"DEDUPSCALE ${j.name}%-10s 4x-ratio=${t4 / t1}%.2f (linear ~4, quadratic ~16)")
        j.name -> t4 / t1
      }
      println("DEDUPSCALE " + ratios.map { case (n, r) => f"$n=$r%.2f" }
        .mkString("summary: ", " ", ""))
    }
    spark.stop()
  }
}
