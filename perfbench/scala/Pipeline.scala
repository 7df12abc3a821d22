package perfbench

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.sources.{DeltaReader, LakeWriter}
import graft.text.{Bpe, Contamination, Dsir}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.SplittableRandom
import scala.collection.mutable

/** The `pipeline` workload: a training-data corpus kept as one Delta
  * table goes through a seeded commit stream (append, merge, update,
  * copy-on-write delete, deletion-vector delete, compaction, checkpoint).
  * After every commit the client reads the new snapshot twice: a
  * selective key-range read, and one curation stage over the whole
  * snapshot (exact dedup, MinHash-LSH, n-gram Jaccard pairs and clusters,
  * duplicate spans, contamination, DSIR, BPE, IVF kNN), in rotation. A
  * plain in-memory replay of the stream is the reference for the checks.
  */
object Pipeline {
  val InitialDocs = 4800
  val AppendDocs = 400
  val MergeDocs = 240
  val Dim = 32
  val Tau = 0.7
  val NCells = 8
  val RecallFloor = 0.9
  val Sources = Array("web", "books", "code", "wiki")
  val StageKinds = Seq("exact", "minhash_lsh", "jaccard_pairs", "clusters", "spans", "contamination",
    "dsir", "bpe_train", "bpe_encode", "assign_cells", "ivf_knn")
  val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("quality", DecimalType(8, 2), nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  final case class Doc(id: Long, text: String, source: String, quality: BigDecimal, emb: Array[Float]) {
    def row: Row = Row(id, text, source, quality.bigDecimal, emb.toSeq)
  }

  /** Seeded documents: Zipf-distributed words over a synthetic
    * vocabulary; a share of new documents are exact copies, near copies
    * (5% of words replaced), carry a copied span, or a benchmark passage.
    * Embeddings come from a Gaussian mixture. A benchmark set and a DSIR
    * target set (shifted word distribution) ride along.
    */
  final class Gen(seed: Long) {
    val rng = new SplittableRandom(seed)
    var nextId = 1L
    private val vocab: Array[String] = Array.tabulate(4000) { i =>
      val sb = new StringBuilder("w")
      var x = i + 1
      while (x > 0) { sb += ('a' + x % 26).toChar; x /= 26 }
      sb.result()
    }
    private val cdf = {
      val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, 1.05))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private def word(shift: Int = 0): String = {
      val u = rng.nextDouble()
      var lo = 0; var hi = cdf.length - 1
      while (lo < hi) { val m = (lo + hi) / 2; if (cdf(m) < u) lo = m + 1 else hi = m }
      vocab((lo + shift) % vocab.length)
    }
    private def words(n: Int, shift: Int = 0): Array[String] = Array.fill(n)(word(shift))
    private def gauss(): Double = {
      val u1 = 1.0 - rng.nextDouble(); val u2 = rng.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    private val centers = Array.fill(12)(Array.fill(Dim)(rng.nextDouble() * 2 - 1))

    val bench: Array[String] = Array.fill(100)(words(60 + rng.nextInt(60)).mkString(" "))
    val target: Array[String] = Array.fill(300)(words(40 + rng.nextInt(80), shift = 700).mkString(" "))

    def nearCopy(t: String): String =
      t.split(' ').map(w => if (rng.nextDouble() < 0.05) word() else w).mkString(" ")

    /** A new document; `existing` draws a live document's text. */
    def doc(existing: () => Option[String]): Doc = {
      val base = words(40 + rng.nextInt(120))
      val u = rng.nextDouble()
      val text = existing() match {
        case Some(t) if u < 0.05 => t
        case Some(t) if u < 0.13 => nearCopy(t)
        case Some(t) if u < 0.18 =>
          val at = rng.nextInt(base.length)
          (base.take(at) ++ t.split(' ').take(30) ++ base.drop(at)).mkString(" ")
        case _ if u < 0.21 => (base ++ bench(rng.nextInt(bench.length)).split(' ').take(40)).mkString(" ")
        case _ => base.mkString(" ")
      }
      val c = centers(rng.nextInt(centers.length))
      val d = Doc(nextId, text, Sources(rng.nextInt(Sources.length)),
        BigDecimal(rng.nextInt(10000), 2), c.map(x => (x + 0.15 * gauss()).toFloat))
      nextId += 1
      d
    }
  }

  def df(spark: SparkSession, rows: Seq[Doc], parts: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(_.row): _*), schema).repartition(parts)

  def textDf(spark: SparkSession, xs: Array[String]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(xs.indices.map(i => Row(i.toLong, xs(i))): _*),
      StructType(Seq(StructField("doc_id", LongType, false), StructField("text", StringType, false))))

  def agg(d: DataFrame): Map[String, (Long, BigDecimal)] =
    d.groupBy("source").agg(count(lit(1)), sum("quality")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  /** Latest committed version: the highest NNN.json in the log. */
  def version(dir: String): Long =
    Fs.files(s"$dir/_delta_log").map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.json")).map(_.take(20).toLong).max

  /** One corpus table under churn, with its in-memory replay. */
  final class Corpus(ctx: Ctx, val dir: String, val g: Gen, initial: Seq[Doc],
                     bench: DataFrame, target: DataFrame) {
    private val spark = ctx.spark
    val model = mutable.LongMap.empty[Doc]
    initial.foreach(d => model(d.id) = d)
    var rowsTouched = 0L
    var lshPairs = 0L
    var recall = 1.0
    var stagedDocs = 0L // documents the curation stages went over
    private var readChecks = 0

    private def existing(): Option[String] =
      if (model.isEmpty) None else Some(model.valuesIterator.drop(g.rng.nextInt(model.size)).next().text)
    private def touch(ds: Iterable[Doc]): Unit = { ds.foreach(d => model(d.id) = d); rowsTouched += ds.size }
    def range(frac: Double): (Long, Long) = {
      val width = math.max(1L, (g.nextId * frac).toLong)
      val lo = 1 + (g.rng.nextLong() & Long.MaxValue) % math.max(1L, g.nextId - width)
      (lo, lo + width)
    }
    def pred(r: (Long, Long)) = s"doc_id >= ${r._1} AND doc_id < ${r._2}"
    private def inRange(r: (Long, Long))(id: Long) = id >= r._1 && id < r._2

    def commit(op: Char): Unit = op match {
      case 'A' =>
        val ds = (0 until AppendDocs).map(_ => g.doc(() => existing()))
        val src = df(spark, ds, 2)
        ctx.op("commit_append")(LakeWriter.appendDelta(src, dir)).foreach(_ => touch(ds))
      case 'M' =>
        val keys = model.keysIterator.toArray
        val upd = (0 until MergeDocs / 2).map(_ => model(keys(g.rng.nextInt(keys.length)))).distinctBy(_.id)
          .map(d => d.copy(text = g.nearCopy(d.text), quality = BigDecimal(g.rng.nextInt(10000), 2)))
        val ds = upd ++ (0 until MergeDocs / 2).map(_ => g.doc(() => existing()))
        val src = df(spark, ds, 2)
        ctx.op("commit_merge")(LakeWriter.mergeInto(spark, dir, src, Seq("doc_id"))).foreach(_ => touch(ds))
      case 'U' =>
        val r = range(0.02)
        ctx.op("commit_update")(LakeWriter.updateWhere(spark, dir, pred(r),
          Map("source" -> "'web'", "quality" -> "quality + 1.00"))).foreach { _ =>
          touch(model.values.filter(d => inRange(r)(d.id)).toList
            .map(d => d.copy(source = "web", quality = d.quality + BigDecimal("1.00"))))
        }
      case 'D' | 'V' =>
        val r = range(0.01)
        val (kind, f) =
          if (op == 'D') ("commit_delete", () => LakeWriter.deleteWhere(spark, dir, pred(r)))
          else ("commit_delete_dv", () => LakeWriter.deleteWhereDv(spark, dir, pred(r)))
        ctx.op(kind)(f()).foreach { _ =>
          val gone = model.keysIterator.filter(inRange(r)).toList
          gone.foreach(model.remove); rowsTouched += gone.size
        }
      case 'C' => ctx.op("commit_compact")(LakeWriter.compactDelta(spark, dir))
      case 'K' => ctx.op("checkpoint")(LakeWriter.checkpointDelta(spark, dir, version(dir)))
    }

    def expectedAgg: Map[String, (Long, BigDecimal)] =
      model.values.groupBy(_.source).map { case (s, ds) => s -> (ds.size.toLong, ds.map(_.quality).sum) }

    /** The selective read after a commit, checked against the replay. */
    def readWhere(): Unit = {
      val r = range(0.01)
      ctx.op("read_where")(DeltaReader.readWhere(spark, dir, pred(r)).count()).foreach { n =>
        readChecks += 1
        if (readChecks <= 8) {
          val want = model.keysIterator.count(inRange(r))
          ctx.check("predicate read equals replay", n == want, s"got=$n want=$want")
        }
      }
    }

    private def snap: DataFrame = DeltaReader.read(spark, dir)

    /** Curation stage `i` (of 8) over the current snapshot. */
    def stage(i: Int): Unit = { stagedDocs += model.size; stageOf(i) }
    private def stageOf(i: Int): Unit = i % 8 match {
      case 0 =>
        ctx.op("exact")(Dedup.exact(snap).where(col("keep")).count()).foreach { n =>
          val want = model.valuesIterator.map(_.text).toSet.size
          ctx.check("exact dedup keeps one document per distinct text", n == want, s"got=$n want=$want")
        }
      case 1 =>
        ctx.op("minhash_lsh")(Dedup.minhashLsh(snap, Tau).collect()).foreach { pairs =>
          lshPairs = pairs.length
          val bad = pairs.filter { r =>
            val (a, b) = (model(r.getAs[Long]("id_1")).text, model(r.getAs[Long]("id_2")).text)
            val jac = Jaccard.shingles(a, b)
            jac < Tau || math.abs(jac - r.getAs[Double]("jac")) > 1e-9
          }
          ctx.check(s"LSH pairs have true Jaccard >= $Tau", pairs.nonEmpty && bad.isEmpty,
            s"pairs=${pairs.length} bad=${bad.take(3).mkString(",")}")
        }
      case 2 =>
        ctx.op("jaccard_pairs")(Dedup.ngramJaccard(snap, Tau).localCheckpoint(true)).foreach { pairs =>
          ctx.op("clusters")(Dedup.clusters(snap, pairs).agg(countDistinct("cluster")).collect())
        }
      case 3 => ctx.op("spans")(Dedup.duplicateSpans(snap).count())
      case 4 => ctx.op("contamination")(Contamination.ngramOverlap(snap, bench, 0.3)
        .where(col("contaminated")).count())
      case 5 => ctx.op("dsir")(Dsir.importanceWeights(snap, target).count())
      case 6 =>
        ctx.op("bpe_train")(Bpe.trainWithVocab(Bpe.wordCounts(snap), 200)._1).foreach { merges =>
          ctx.op("bpe_encode")(Bpe.encode(spark, snap, merges).count())
        }
      case 7 =>
        val emb = snap.select(col("doc_id").as("vec_id"), col("embedding"))
        ctx.op("assign_cells")(Similarity.assignCells(emb, NCells, 42L).localCheckpoint(true))
          .foreach { assigned =>
            ctx.op("ivf_knn")(Similarity.ivfKnn(emb, 10, NCells, preAssigned = Some(assigned)).collect())
              .foreach(checkRecall)
          }
    }

    /** IVF recall@10 against exact cosine kNN for 40 sampled queries. */
    private def checkRecall(knn: Array[Row]): Unit = {
      val docs = model.values.toArray
      val norms = docs.map(d => math.sqrt(d.emb.map(x => x.toDouble * x).sum))
      val got = knn.groupBy(_.getAs[Long]("vec_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      val qs = (0 until 40).map(_ => g.rng.nextInt(docs.length)).distinct
      val hits = qs.map { qi =>
        val v = docs(qi).emb
        val exact = docs.indices.filter(_ != qi).map { j =>
          val w = docs(j).emb; var d = 0.0; var k = 0
          while (k < Dim) { d += v(k).toDouble * w(k); k += 1 }
          (docs(j).id, d / norms(qi) / norms(j))
        }.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
        (exact & got.getOrElse(docs(qi).id, Set.empty[Long])).size
      }
      recall = hits.sum.toDouble / (qs.size * 10)
      ctx.check(s"IVF recall@10 >= $RecallFloor", recall >= RecallFloor, s"recall=$recall")
    }
  }

  /** `n` new documents, later ones drawing copies from earlier ones. */
  def corpus(g: Gen, n: Int): Seq[Doc] = {
    val out = mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach(_ => out += g.doc(() =>
      if (out.isEmpty) None else Some(out(g.rng.nextInt(out.size)).text)))
    out.toSeq
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tGen0 = System.nanoTime()
    val g = new Gen(ctx.seed)
    val initial = corpus(g, InitialDocs)
    val bench = textDf(spark, g.bench).localCheckpoint(true)
    val target = textDf(spark, g.target).localCheckpoint(true)
    val warmGen = new Gen(ctx.seed + 1)
    val warmDocs = corpus(warmGen, 300)
    val genS = (System.nanoTime() - tGen0) / 1e9

    // ---------- set-up: create the corpus table, three times ----------
    val reps = (0 until 3).map { r =>
      val dir = ctx.path(s"corpus_rep$r")
      val s = ctx.secs {
        LakeWriter.writeDelta(df(spark, initial, 4), dir)
        DeltaReader.read(spark, dir).count()
      }
      if (r > 0) Fs.rm(dir)
      s
    }
    val t = new Corpus(ctx, ctx.path("corpus_rep0"), g, initial, bench, target)
    val bytes0 = Fs.bytes(t.dir)
    val bytesPerRow = bytes0.toDouble / InitialDocs

    // untimed warm-up: the op mix, with every curation stage, on a small
    // corpus of its own
    val mix = "AMUDAVUCK"
    val warmS = ctx.secs {
      val dir = ctx.path("warmup")
      LakeWriter.writeDelta(df(spark, warmDocs, 2), dir)
      val w = new Corpus(ctx, dir, warmGen, warmDocs, bench, target)
      mix.indices.foreach { i => w.commit(mix(i)); w.readWhere(); w.stage(i) }
    }
    ctx.samples.clear()

    // per-layer probes on traced rounds, outside op timing
    val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def rec(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def probe(): Unit = {
      rec("sources.log_replay_s", ctx.secs(DeltaReader.read(spark, t.dir).queryExecution.executedPlan))
      val all = DeltaReader.read(spark, t.dir).inputFiles.length
      val some = DeltaReader.readWhere(spark, t.dir, t.pred(t.range(0.01))).inputFiles.length
      rec("sources.files_scanned_frac", some.toDouble / math.max(1, all))
      val docs = DeltaReader.read(spark, t.dir)
      var sigs: DataFrame = null
      rec("dedup.minhash_sigs_s", ctx.secs { sigs = Dedup.minhashSignatures(docs).localCheckpoint(true) })
      val keys = Dedup.minhashBandKeys(sigs)
      rec("dedup.lsh_candidates", keys.as("x").join(keys.as("y"), Seq("band", "bkey"))
        .where(col("x.did") < col("y.did")).select(col("x.did"), col("y.did")).distinct().count().toDouble)
      rec("dedup.lsh_verified", Dedup.minhashLsh(docs, Tau).count().toDouble)
      rec("dedup.jaccard_pairs_s", ctx.secs(Dedup.ngramJaccardPairs(docs).count()))
    }

    // one round: 8 commits (2 appends, a merge, 2 updates, a delete, a
    // deletion-vector delete, a compaction) and a checkpoint; each is
    // followed by a selective read and the next curation stage
    var n = 0
    val (opsDone, loopS) = ctx.loop(mix) { (op, round, pos) =>
      t.commit(op); t.readWhere(); t.stage(n); n += 1
      // probe mid-round, while the table still has many files
      if (ctx.trace && round % 2 == 1 && pos == 4) probe()
    }

    // ---------- output checks: final state equals the replay ----------
    val finalAgg = agg(DeltaReader.read(spark, t.dir))
    ctx.check("final table state equals replay (rows and exact quality sum per source)",
      finalAgg == t.expectedAgg, s"got=$finalAgg want=${t.expectedAgg}")

    val commitKinds = ctx.samples.keys.filter(_.startsWith("commit_")).toSeq
    val commits = commitKinds.flatMap(ctx.lat)
    val per = mutable.LinkedHashMap.empty[String, Double]
    if (ctx.trace) {
      def both(k: String) = Stats.median(ctx.lat(k) ++ ctx.tlat(k)) / 1e3
      Seq("sources.append_s" -> "commit_append", "sources.merge_s" -> "commit_merge",
        "sources.update_s" -> "commit_update", "sources.delete_s" -> "commit_delete",
        "sources.delete_dv_s" -> "commit_delete_dv", "sources.compact_s" -> "commit_compact",
        "sources.checkpoint_s" -> "checkpoint", "dedup.exact_s" -> "exact",
        "dedup.lsh_pairs_s" -> "minhash_lsh", "dedup.clusters_s" -> "clusters", "dedup.spans_s" -> "spans",
        "sim.assign_cells_s" -> "assign_cells", "sim.ivf_knn_s" -> "ivf_knn",
        "text.bpe_train_s" -> "bpe_train", "text.bpe_encode_s" -> "bpe_encode", "text.dsir_s" -> "dsir",
        "text.contamination_s" -> "contamination").foreach { case (m, k) => per(m) = both(k) }
      layer.foreach { case (k, v) => per(k) = Stats.median(v.toSeq) }
      per("dedup.lsh_precision") = per.getOrElse("dedup.lsh_verified", 0.0) /
        math.max(1.0, per.getOrElse("dedup.lsh_candidates", 0.0))
      per("sim.kmeans_jobs") = Stats.mean(ctx.tracer.of("assign_cells").map(_.jobs.size.toDouble))
      per("sim.recall_at_10") = t.recall
      per("sources.bytes_written_per_user_byte") =
        (Fs.bytes(t.dir) - bytes0).toDouble / math.max(1.0, t.rowsTouched * bytesPerRow)
      per("sources.active_files") = DeltaReader.read(spark, t.dir).inputFiles.length.toDouble
      per("sources.log_entries") = Fs.files(s"${t.dir}/_delta_log").count(_.toString.endsWith(".json")).toDouble
      per ++= SparkLayer.metrics(ctx, None, Some("commit_"))
      per("bench.trace_overhead_frac") = {
        val a = Stats.median(commits); val b = Stats.median(commitKinds.flatMap(ctx.tlat))
        if (a > 0 && b > 0) b / a - 1 else 0.0
      }
    }

    Outcome(
      primaryMs = commits,
      throughputPerS = opsDone / loopS,
      setupRepsS = reps,
      attempted = ctx.attempted, failed = ctx.failed, checksRun = ctx.checksRun,
      report = Map(
        "inputs" -> Map("initial_docs" -> InitialDocs, "final_docs" -> t.model.size,
          "initial_doc_bytes" -> initial.map(_.text.length.toLong).sum, "dim" -> Dim,
          "initial_table_bytes" -> bytes0, "final_table_bytes" -> Fs.bytes(t.dir),
          "append_docs" -> AppendDocs, "merge_docs" -> MergeDocs,
          "bench_docs" -> g.bench.length, "target_docs" -> g.target.length),
        "input_gen_s" -> genS, "warmup_s" -> warmS, "loop_ops" -> opsDone, "loop_s" -> loopS,
        "named" -> Map(
          "commit_p50_s" -> Stats.median(commits) / 1e3,
          "commit_p90_s" -> Stats.quantile(commits, 0.9) / 1e3,
          "commit_samples" -> commits.size,
          "read_p50_s" -> Stats.median(ctx.lat("read_where")) / 1e3,
          "curation_docs_per_s" -> t.stagedDocs / (StageKinds.flatMap(ctx.lat).sum / 1e3),
          "lsh_pairs" -> t.lshPairs, "ivf_recall_at_10" -> t.recall),
        "ops" -> ctx.samples.map { case (k, v) => k -> Stats.summary(v.toSeq) }.toMap),
      layers = per.toMap)
  }
}

/** Jaccard similarity of two texts' distinct word 3-gram sets. */
object Jaccard {
  def shingles(a: String, b: String): Double = {
    def sh(t: String) = t.split(' ').sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x & y).size.toDouble / (x | y).size
  }
}
