package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.pipeline.{EavStore, GramStore, IndexStore, ReleaseBuild, SignatureStore, VectorRelease}

/** One workload: a fixture, then a closed loop of operations. */
trait Workload {
  /** Builds the fixture in `dir`. */
  def setup(dir: Path): Unit
  /** Prepares operation `i` outside the timed region. */
  def prepare(i: Int): Unit = ()
  /** Runs operation `i`, timing it through the [[Bench]]. */
  def step(i: Int): Unit
  /** What the output checks need to know. */
  def checkFacts: Map[String, Any]
  /** Filesystem facts about the store at the end of the run. */
  def storeFacts: Map[String, Double] = Map.empty
  /** Workload facts for the run record. */
  def record: Map[String, Any] = Map.empty
}

object Workloads {
  /** Areas per area type: 83 areas. */
  val Sizes = Seq("overview" -> 1, "nation" -> 4, "region" -> 9,
    "nhsRegion" -> 7, "nhsTrust" -> 12, "utla" -> 20, "ltla" -> 30)
  val BaseDays = 100

  def apply(name: String, b: Bench): Workload = name match {
    case "release_day" => new ReleaseDay(b)
    case "curation_night" => new CurationNight(b)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** the area type each serving kind's refresh covers, in `Serve.Kinds` order */
  val RefreshTypes = Seq("ltla", "utla", "ltla", "utla", "ltla")
}

/** Consecutive releases through parse → pivot → transform → melt + hash →
  * upsert → a five-request serving refresh of the new release. */
final class ReleaseDay(b: Bench) extends Workload {
  import Workloads._
  private val spark = b.spark
  private var dir: Path = _
  private var doc: ReleaseDoc = _
  private var next = 1
  def store: String = dir.resolve("store").toString
  private def docDir(r: Int) = dir.resolve("docs").resolve(s"r$r")

  def setup(d: Path): Unit = {
    dir = java.nio.file.Files.createDirectories(d)
    doc = new ReleaseDoc(b.seed, Sizes, BaseDays)
    doc.writePopulation(d.resolve("population.csv"))
    prepare(0)
    b.span("setup.release", "r1")(release(first = true))
  }

  override def prepare(i: Int): Unit = doc.write(next, docDir(next))

  def step(i: Int): Unit = b.timeOp("op.release", s"r$next")(release(first = false))

  private def release(first: Boolean): Unit = {
    val r = next
    next += 1
    val tag = s"r$r"
    val cuts = dir.resolve("cuts")
    val pop = ReleasePath.population(spark, dir.resolve("population.csv").toString)
    val long = b.cut("sources.parse", tag, cuts)(ReleasePath.parse(spark, docDir(r).toString))
    val wide = b.cut("operators.pivot", tag, cuts)(ReleasePath.pivot(long))
    val derived = b.cut("operators.transform", tag, cuts)(ReleasePath.transform(wide, pop))
    val eav = b.cut("operators.melt_hash", tag, cuts)(ReleasePath.meltHash(derived, r))
    val input = cuts.resolve(s"operators.melt_hash-$tag")
    if (b.traced)
      b.upsert(eav, store, input.getFileName.toString, Disk.bytes(input), eav.count(), first)
    else b.upsert(eav, store, "", 0, 0, first)
    refresh(r)
  }

  /** The serving refresh over a new release: one request of each kind, on
    * the area type that kind's view is published for, for a seeded metric
    * (and area, for the blob). */
  private def refresh(r: Int): Unit =
    Serve.Kinds.zip(RefreshTypes).zipWithIndex.foreach { case ((k, t), j) =>
      val areas = doc.areasOf(t)
      b.serve(store, Req(k, r, t,
        ReleasePath.ServedMetrics(Gen.pick(ReleasePath.ServedMetrics.size, b.seed, r, j, 32)),
        areas(Gen.pick(areas.size, b.seed, r, j, 33)).code))
    }

  def checkFacts: Map[String, Any] = Map("store" -> store,
    "docs" -> dir.resolve("docs").toString, "releases" -> (1 until next))

  override def storeFacts: Map[String, Double] = Map(
    "pipeline.eav.files_per_partition_max" -> Disk.maxFilesPerPartition(Path.of(store)),
    "pipeline.eav.store_bytes_per_row" ->
      Disk.bytes(Path.of(store)).toDouble / EavStore.read(spark, store).count())
}

/** One curation night composed from public calls (the q206 shape):
  * takedown in the text stores → text roll-forward → vector takedown →
  * vector maintain night → index-served eval queries, each night on a
  * fresh copy of the prior-night stores. */
final class CurationNight(b: Bench) extends Workload {
  import CurationNight._
  private val spark = b.spark
  private var dir: Path = _
  private var weights: Array[Long] = _
  private val manifests = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
  private val served = scala.collection.mutable.ArrayBuffer.empty[Long]
  /** generation of the index after each night: above 0 when the night rebalanced */
  private val generations = scala.collection.mutable.ArrayBuffer.empty[Long]
  private def docs = spark.read.parquet(dir.resolve("documents").toString)
  private def emb = spark.read.parquet(dir.resolve("embeddings").toString)
  private def night = dir.resolve("night")
  private val s = b.seed

  def isTombDoc = col("doc_id") % 9 === s % 9
  def isNewDoc = (col("doc_id") + s) % 10 >= 8
  def isTombVec = col("vec_id") % 9 === s % 9
  def isNewVec = (col("vec_id") + s) % 10 >= 8
  def isEval = col("vec_id") % EvalEvery === 0
  private def nodes(d: DataFrame) = d.select(col("vec_id").cast("long").as("q_id"),
    col("embedding").cast("array<double>").as("q_emb"))
  private def cands(d: DataFrame) = d.select(col("vec_id").cast("long").as("cand_id"),
    col("embedding").cast("array<double>").as("cand_emb"))

  def setup(d: Path): Unit = {
    import spark.implicits._
    dir = d
    def words(i: Int): Array[String] =
      Array.tabulate(30 + Gen.pick(40, s, i, 60))(j => Vocabulary(Gen.pick(Vocabulary.size, s, i, j, 61)))
    (0 until Docs).map { i =>
      // every 12th document near-duplicates an earlier one: one word edited
      val text =
        if (i % 12 != 11) words(i)
        else {
          val t = words(Gen.pick(i, s, i, 62))
          t(Gen.pick(t.length, s, i, 63)) = "edited"
          t
        }
      (i.toLong, text.mkString(" "), Langs(Gen.pick(Langs.size, s, i, 64)), s"src${i % 7}",
        text.mkString(" ").length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir.resolve("documents").toString)
    // Eight well-separated clusters, dealt round-robin over the prior
    // corpus in id order: the coarse quantizer (seeded from the lowest ids)
    // then starts with one centroid per cluster and its cells stay
    // balanced, so every night takes maintain's healthy, no-rebalance
    // branch. The slices are the isEval/isNewVec predicates below.
    val priorIds = (0 until Vecs).filter(i => i % EvalEvery != 0 && (i + s) % 10 < 8)
    val clusterOf = priorIds.zipWithIndex.map { case (id, k) => id -> k % Cells }.toMap
    (0 until Vecs).map { i =>
      val c = clusterOf.getOrElse(i, i % Cells)
      (i.toLong, Array.tabulate(Dim)(j =>
        ((if (Gen.unit(s, c, j, 68) < 0.5) -1.0 else 1.0) +
          0.5 * (Gen.unit(s, i, j, 69) - 0.5)).toFloat), c)
    }.toDF("vec_id", "embedding", "label").write.parquet(dir.resolve("embeddings").toString)

    // the prior-night stores: release r1 of the text and vector tiers
    val prior = dir.resolve("prior")
    val oldDocs = docs.where(!isNewDoc)
    SignatureStore.append(spark, prior.resolve("sigs").toString, "r1", oldDocs, "doc_id", "text")
    GramStore.append(spark, prior.resolve("grams").toString, "r1", oldDocs, "text")
    // the frozen classifier is an input of the night: seeded weights (in
    // micro-units) under which about half the documents score positive
    weights = Array.tabulate(256)(j => ((Gen.unit(s, j, 70) - 0.5) * 2e6).toLong)
    val oldVecs = emb.where(!isEval && !isNewVec)
    IndexStore.build(spark, prior.resolve("store").toString, oldVecs, "vec_id", "embedding",
      dim = Dim, kCoarse = Cells, coarseIters = 2, m = 16, ksub = 8, iters = 2, release = "r1")
    val model = IndexStore.readModel(spark, prior.resolve("store").toString)
    Similarity.ivfExactGraphEdges(nodes(oldVecs), cands(oldVecs), model.centroids,
      nProbe = 2, k = 3).write.parquet(prior.resolve("prior_graph").toString)
  }

  override def prepare(i: Int): Unit = {
    Disk.delete(night)
    Disk.copy(dir.resolve("prior"), night)
  }

  def step(i: Int): Unit = {
    val tag = s"n$i"
    val sigs = night.resolve("sigs").toString
    val grams = night.resolve("grams").toString
    val store = night.resolve("store").toString
    val corpus = emb.where(!isEval)
    val manifest = b.timeOp("op.night", tag) {
      b.span("pipeline.release_build.takedown", tag)(ReleaseBuild.takedownDocs(spark, sigs,
        grams, docs.where(isTombDoc).select("doc_id"), docs.where(!isTombDoc), "doc_id", "text"))
      val kept = b.span("pipeline.release_build.roll_forward", tag)(
        ReleaseBuild.rollForwardOnDisk(spark, docs.where(isNewDoc && !isTombDoc), "doc_id",
          "text", "source", docs.where(!isTombDoc), sigs, grams, "r2", weights)
          .localCheckpoint())
      b.span("pipeline.index_store.delete", tag)(IndexStore.delete(spark, store,
        emb.where(isTombVec).select(col("vec_id").as("cand_id"))))
      val drops = b.span("pipeline.vector_release.maintain", tag)(
        VectorRelease.maintain(spark, store, corpus.where(isNewVec), corpus.where(!isNewVec),
          nodes(emb.where(isEval)), spark.read.parquet(night.resolve("prior_graph").toString),
          "vec_id", "embedding", release = "r2", kCoarse = Cells, maxShareMilli = 300)
          .where(col("dropped")).select(col("src_id").as("doc_id")).distinct()
          .localCheckpoint())
      val gated = kept.join(broadcast(drops), Seq("doc_id"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val evals = nodes(emb.where(isEval)).collect()
      evals.grouped(QueryBatch).zipWithIndex.foreach { case (batch, j) =>
        val q = spark.createDataFrame(java.util.Arrays.asList(batch: _*), evals.head.schema)
        b.request("pipeline.index_store.query", s"$tag.q$j") {
          IndexStore.query(spark, store, q, cands(corpus), nProbe = 2, k = 5, shortlist = 20)
            .collect()
        }.foreach(r => served += r.getAs[Long]("cand_id"))
      }
      gated
    }
    manifests += manifest
    generations += IndexStore.generation(spark, store)
  }

  override def record: Map[String, Any] = Map("index_generations" -> generations.toSeq)

  def checkFacts: Map[String, Any] = Map("documents" -> dir.resolve("documents").toString,
    "embeddings" -> dir.resolve("embeddings").toString, "manifests" -> manifests.toSeq,
    "served" -> served.distinct.sorted, "tomb_mod" -> (s % 9), "eval_every" -> EvalEvery)
}

object CurationNight {
  val Docs = 400
  val Vecs = 240
  val Dim = 64
  /** coarse cells of the index, and clusters of the generated vectors */
  val Cells = 8
  val EvalEvery = 20
  val QueryBatch = 2
  val Langs = Seq("en", "es", "de", "fr", "zh")
  /** 2000 pronounceable words, so documents share few shingles unless one
    * near-duplicates another */
  val Vocabulary: Seq[String] = {
    val syllables = for (c <- "bdfgklmnprstvz"; v <- Seq("a", "e", "i", "o", "u", "ai", "ou"))
      yield s"$c$v"
    (0 until 2000).map(i => Seq(i % 98, i / 98 % 98, i / 9604).map(syllables).mkString)
  }
}
