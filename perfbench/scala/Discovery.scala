package perfbench

import graft.cocoa.Cocoa
import graft.dup.DuplicateDetection
import graft.functions.{TextFunctions, Xash, XashKernel}
import graft.index.{CocoaIndex, LakeIndexer, LakeTable}
import graft.mate.Mate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.SplittableRandom
import scala.collection.mutable

/** One generated lake table: string cells, `rid` = row position. */
final case class Tab(id: Int, name: String, cols: Array[String], rows: Array[Array[String]]) {
  def cells: Long = rows.length.toLong * cols.length
  def bytes: Long = rows.iterator.map(_.iterator.map(_.length.toLong).sum).sum
  def df(spark: SparkSession): DataFrame = {
    val schema = StructType(StructField("rid", LongType, nullable = false) +:
      cols.toSeq.map(StructField(_, StringType, nullable = false)))
    val rs = rows.indices.map(i => Row.fromSeq(i.toLong +: rows(i).toSeq))
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
  }
  def lake(spark: SparkSession): LakeTable =
    LakeTable(id, name, df(spark), col("rid"), cols.toSeq)
}

/** A generated entity table the lake tables are derived from. */
final case class Pool(name: String, cols: Array[String], rows: Array[Array[String]])

/** Seeded generator of the discovery lake: four TPC-H-shaped entity
  * pools, tables derived from them as row samples and column subsets,
  * and planted tables the MATE, COCOA and duplicate queries must find.
  * Every value is a lowercase alphanumeric token that is no stopword,
  * so the index's cleaning leaves it unchanged and the brute-force
  * checks can compare raw values.
  */
final class LakeGen(seed: Long) {
  val rng = new SplittableRandom(seed)
  private val Nations = Array("algeria", "argentina", "brazil", "canada", "egypt", "ethiopia",
    "france", "germany", "india", "indonesia", "iran", "iraq", "japan", "jordan", "kenya",
    "morocco", "mozambique", "peru", "china", "romania", "saudi", "vietnam", "russia",
    "britain", "chile")
  private val Segments = Array("automobile", "building", "furniture", "machinery", "household")
  private val Words = Array("almond", "antique", "aquamarine", "azure", "beige", "bisque",
    "black", "blanched", "blue", "blush", "brown", "burlywood", "burnished", "chartreuse",
    "chiffon", "chocolate", "coral", "cornflower", "cornsilk", "cream", "cyan", "dark", "deep",
    "dim", "dodger", "drab", "firebrick", "floral", "forest", "frosted", "gainsboro", "ghost",
    "goldenrod", "green", "grey", "honeydew", "hot", "indian", "ivory", "khaki")
  private val Statuses = Array("fin", "open", "pend")
  private val Priorities = Array("urgent", "high", "medium", "low", "unspecified")

  private def pick(a: Array[String]): String = a(rng.nextInt(a.length))
  private def num(bound: Int): String = rng.nextInt(bound).toString

  val customer = Pool("customer", Array("c_key", "c_name", "c_nation", "c_segment", "c_acctbal", "c_phone"),
    Array.tabulate(10000)(i => Array(s"cu$i", s"cn$i${pick(Words)}", pick(Nations), pick(Segments),
      num(100000), s"ph${1000000 + rng.nextInt(9000000)}")))
  val part = Pool("part", Array("p_key", "p_name", "p_brand", "p_type", "p_size", "p_price"),
    Array.tabulate(10000)(i => Array(s"pk$i", s"${pick(Words)}${pick(Words)}$i",
      s"brand${1 + rng.nextInt(5)}${1 + rng.nextInt(5)}", pick(Words), (1 + rng.nextInt(50)).toString,
      (900 + rng.nextInt(1100)).toString)))
  val supplier = Pool("supplier", Array("s_key", "s_name", "s_nation", "s_acctbal"),
    Array.tabulate(2000)(i => Array(s"su$i", s"sn$i${pick(Words)}", pick(Nations), num(100000))))
  val orders = Pool("orders", Array("o_key", "o_cust", "o_status", "o_price", "o_date", "o_priority"),
    Array.tabulate(16000)(i => Array(s"ok$i", s"cu${rng.nextInt(customer.rows.length)}", pick(Statuses),
      num(500000), s"y${1992 + rng.nextInt(7)}m${1 + rng.nextInt(12)}", pick(Priorities))))
  val pools = Array(customer, part, supplier, orders)

  private def shuffled[T: scala.reflect.ClassTag](xs: Seq[T]): Array[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }

  /** Column subset (key + 2..4 others, shuffled) of a row sample. The
    * table's shape (pool, width, sampling rate) follows from its id, so
    * every seed builds a lake of the same size; the seed picks the rows
    * and columns.
    */
  def derived(id: Int): Tab = {
    val p = pools(id % pools.length)
    val others = shuffled(p.cols.indices.drop(1)).take(2 + id % 3)
    val keep = shuffled(0 +: others.toSeq)
    val frac = 0.10 + 0.35 * ((id * 7) % 10) / 9.0
    val rows = p.rows.filter(_ => rng.nextDouble() < frac).map(r => keep.map(r))
    Tab(id, s"${p.name}_$id", keep.map(p.cols), rows)
  }

  /** `n` distinct row indices of a pool. */
  def sample(p: Pool, n: Int): Array[Int] = shuffled(p.rows.indices).take(n)

  /** A table holding the given pool rows plus `filler` random others over
    * `cols` plus `extra` random other columns, columns and rows shuffled.
    */
  def planted(id: Int, p: Pool, rows: Array[Int], cols: Seq[Int], extra: Int, filler: Int): Tab = {
    val rest = shuffled(p.cols.indices.filterNot(cols.contains)).take(extra)
    val keep = shuffled(cols ++ rest)
    val chosen = rows.toSet
    val fill = shuffled(p.rows.indices.filterNot(chosen)).take(filler)
    val rs = shuffled((rows ++ fill).toSeq).map(i => keep.map(p.rows(i)))
    Tab(id, s"planted_$id", keep.map(p.cols), rs)
  }

  def nextDouble(): Double = rng.nextDouble()
  def nextInt(n: Int): Int = rng.nextInt(n)
  def gaussian(): Double = {
    val u1 = 1.0 - rng.nextDouble(); val u2 = rng.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
  def shuffle[T: scala.reflect.ClassTag](xs: Seq[T]): Array[T] = shuffled(xs)
}

/** The `discovery` workload: build and persist the four MaCO index
  * relations over a generated lake, then one closed-loop client issues
  * MATE top-k searches (multi- and single-attribute), COCOA
  * enrichments, duplicate-table lookups and index appends/removals.
  */
object Discovery {
  val K = 10
  val DerivedTables = 10
  val IndexParts = 4

  /** A MATE query template: pool rows and query columns, with a planted
    * table holding every template row.
    */
  final case class MateT(pool: Pool, rows: Array[Int], qcols: Seq[Int], plantedId: Int)
  final case class EnrichT(pool: Pool, rows: Array[Int], target: Map[Int, Double], plantedId: Int)
  final case class DupT(pool: Pool, rows: Array[Int], cols: Seq[Int])

  /** One executed op kept for the output checks. */
  final case class Done(kind: String, input: Tab, live: Set[Int],
                        result: Seq[Row], aux: Any)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tGen0 = System.nanoTime()
    val g = new LakeGen(ctx.seed)
    val tabs = mutable.LinkedHashMap.empty[Int, Tab]
    (1 to DerivedTables).foreach(i => tabs(i) = g.derived(i))
    var nextId = DerivedTables + 1
    def newId(): Int = { val i = nextId; nextId += 1; i }

    def mateT(p: Pool, qcols: Seq[Int]): MateT = {
      val rows = g.sample(p, 60)
      val id = newId()
      tabs(id) = g.planted(id, p, rows, qcols, extra = 2, filler = 200)
      MateT(p, rows, qcols, id)
    }
    val multiTs = Seq(mateT(g.customer, Seq(1, 2)), mateT(g.part, Seq(1, 2)),
      mateT(g.supplier, Seq(1, 2)))
    val singleTs = Seq(mateT(g.customer, Seq(1)))
    def enrichT(p: Pool): EnrichT = {
      val rows = g.sample(p, 80)
      val fill = g.shuffle(p.rows.indices.filterNot(rows.toSet)).take(100)
      val strong = g.shuffle((1 to rows.length).map(_ * 7))
      val target = rows.indices.map(i => rows(i) -> (strong(i) + 60 * g.gaussian())).toMap
      val id = newId()
      // (name, strong feature, noise feature, one more pool column)
      val other = 2 + g.nextInt(p.cols.length - 2)
      val rs = (rows.indices.map(i => Array(p.rows(rows(i))(1), strong(i).toString,
        g.nextInt(100000).toString, p.rows(rows(i))(other))) ++
        fill.map(r => Array(p.rows(r)(1), (1 + g.nextInt(600)).toString,
          g.nextInt(100000).toString, p.rows(r)(other)))).toArray
      tabs(id) = Tab(id, s"enrich_$id", Array(p.cols(1), "f_strong", "f_noise", p.cols(other)),
        g.shuffle(rs.toSeq))
      EnrichT(p, rows, target, id)
    }
    val enrichTs = Seq(enrichT(g.customer))
    def dupT(p: Pool): DupT = {
      val rows = g.sample(p, 120)
      val cols = Seq(0, 1, 2, 3)
      val a = newId(); tabs(a) = g.planted(a, p, rows, cols, extra = 0, filler = 0)
      val b = newId(); tabs(b) = g.planted(b, p, rows, cols, extra = 0, filler = 80)
      DupT(p, rows, cols)
    }
    val dupTs = Seq(dupT(g.part))
    val base = tabs.keySet.toSet
    val genS = (System.nanoTime() - tGen0) / 1e9

    // ---------- set-up: build and persist the four index relations ----------
    def build(dir: String, tables: Seq[Tab]): Map[String, Double] = {
      val lake = tables.map(_.lake(spark))
      val w = ctx.secs(LakeIndexer.writeIndex(LakeIndexer.cells(lake), s"$dir/cells", IndexParts))
      val c = ctx.secs(CocoaIndex.build(LakeIndexer.readIndex(spark, s"$dir/cells"))
        .write.mode("overwrite").parquet(s"$dir/cocoa"))
      val i = ctx.secs {
        LakeIndexer.tableInfo(lake).write.mode("overwrite").parquet(s"$dir/table_info")
        LakeIndexer.columnHeaders(spark, lake).write.mode("overwrite").parquet(s"$dir/column_headers")
      }
      Map("write_s" -> w, "cocoa_s" -> c, "info_s" -> i, "total_s" -> (w + c + i))
    }
    def queryTab(p: Pool, rows: Array[Int], cols: Seq[Int], extra: Seq[(String, Int => String)] = Nil): Tab = {
      val kept = rows.filter(_ => g.nextDouble() < 0.85)
      val rs = if (kept.length >= 10) kept else rows
      Tab(0, "query", (cols.map(p.cols) ++ extra.map(_._1)).toArray,
        rs.map(r => (cols.map(p.rows(r)(_)) ++ extra.map(_._2(r))).toArray))
    }

    val reps = (0 until 3).map { r =>
      val dir = ctx.path(s"index_rep$r")
      val m = build(dir, base.toSeq.sorted.map(tabs))
      if (r > 0) Fs.rm(dir)
      m
    }
    val idxDir = ctx.path("index_rep0")
    val idx = s"$idxDir/cells"
    val nCells = spark.read.parquet(idx).count()
    val indexBytes = Fs.bytes(idxDir)
    val sourceBytes = base.toSeq.map(tabs(_).bytes).sum

    // ---------- ops ----------
    val live = mutable.LinkedHashSet.empty[Int] ++= base.toSeq.sorted
    val added = mutable.Queue.empty[Int]
    val done = mutable.ArrayBuffer.empty[Done]
    def cells: DataFrame = LakeIndexer.readIndex(spark, idx)

    // per-layer probes, run once per traced round outside op timing
    var traceProbe, enrichProbe, dupProbe = false
    val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def rec(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

    def search(t: MateT, kind: String): Unit = {
      val q = queryTab(t.pool, t.rows, t.qcols)
      val res = ctx.op(kind) {
        Mate.joinSearch(q.df(spark), col("rid"), q.cols.toSeq, cells, K).collect().toSeq
      }
      res.foreach(r => done += Done(kind, q, live.toSet, r, t.plantedId))
      if (kind == "search_multi" && ctx.trace && traceProbe) { mateProbe(q); traceProbe = false }
    }
    def enrich(t: EnrichT): Unit = {
      val q = queryTab(t.pool, t.rows, Seq(1), Seq("target" -> (r => f"${t.target(r)}%.3f")))
      val res = ctx.op("enrich") {
        Cocoa.enrichMulticolumn(q.df(spark), col("rid"), Seq(q.cols(0)), col("target").cast("double"),
          cells, K, 5).collect().toSeq
      }
      res.foreach(r => done += Done("enrich", q, live.toSet, r, t))
      if (ctx.trace && enrichProbe) { cocoaProbe(q); enrichProbe = false }
    }
    def dup(t: DupT): Unit = {
      val q = queryTab(t.pool, t.rows, t.cols)
      val in = LakeIndexer.cells(Seq(q.lake(spark)))
      val res = ctx.op("dup_lookup") {
        DuplicateDetection.duplicateTablesForInput(in, cells).collect().toSeq
      }
      res.foreach(r => done += Done("dup_lookup", q, live.toSet, r, null))
      if (ctx.trace && dupProbe) { dupProbeRun(q, res.map(_.size).getOrElse(0)); dupProbe = false }
    }
    def addOrRemove(round: Int): Unit =
      if (round % 2 == 0 || added.isEmpty) {
        val ts = Seq(g.derived(newId()), g.derived(newId()))
        ts.foreach(t => tabs(t.id) = t)
        val newCells = LakeIndexer.cells(ts.map(_.lake(spark)))
        ctx.op("index_append")(LakeIndexer.addTables(newCells, idx, 4)).foreach { _ =>
          ts.foreach { t => live += t.id; added.enqueue(t.id) }
        }
      } else {
        val id = added.dequeue()
        ctx.op("index_remove")(LakeIndexer.removeTable(spark, idx, id)).foreach(_ => live -= id)
      }

    def mateProbe(q: Tab): Unit = {
      val in = q.df(spark); val qc = q.cols.toSeq; val cs = cells
      val prep = Mate.prepare(in, col("rid"), qc)
      rec("mate.prepare_s", ctx.secs(prep.collect()))
      var verified = 0L
      rec("mate.matches_s", ctx.secs { verified = Mate.matches(in, col("rid"), qc, cs).count() })
      val m = Mate.matches(in, col("rid"), qc, cs).localCheckpoint(true)
      rec("mate.topk_s", ctx.secs(Mate.topK(m, K).collect()))
      val q0 = broadcast(prep.select(col("tok_0"), col("q_hi"), col("q_lo")))
      val hits = cs.join(q0, cs("tokenized") === q0("tok_0"))
      val nHits = hits.count()
      val nSurv = hits.where(Xash.contains(col("sk_hi"), col("sk_lo"), col("q_hi"), col("q_lo"))).count()
      rec("mate.token_hits", nHits.toDouble); rec("mate.xash_survivors", nSurv.toDouble)
      rec("mate.verified_rows", verified.toDouble)
    }
    def cocoaProbe(q: Tab): Unit = {
      val in = q.df(spark).withColumn("target", col("target").cast("double"))
      val cs = cells
      var top: DataFrame = null; var maps: DataFrame = null
      rec("cocoa.search_and_maps_s", ctx.secs {
        val (t, m) = Mate.searchAndMaps(in, col("rid"), Seq(q.cols(0)), cs, K); top = t; maps = m
      })
      val pairs = maps.select(col("tableid"), col("rowid").as("ext_row"), col("input_row"))
      val excluded = top.select(col("tableid"), explode(split(col("columns"), "_")).as("c"))
        .select(col("tableid"), col("c").cast("int").as("colid")).distinct()
      val ranked = Cocoa.targetRanks(in.select(col("rid").as("input_row"), col("target")))
      rec("cocoa.target_ranks_s", ctx.secs(ranked.collect()))
      var scored = 0L
      rec("cocoa.correlations_s", ctx.secs {
        scored = Cocoa.correlations(ranked, pairs, cs, excluded).collect().length.toLong
      })
      rec("cocoa.columns_scored", scored.toDouble)
      rec("cocoa.join_map_rows", maps.count().toDouble)
    }
    def dupProbeRun(q: Tab, found: Int): Unit = {
      val cs = cells
      var sigs: DataFrame = null
      rec("dup.row_signatures_s", ctx.secs {
        sigs = DuplicateDetection.rowSignatures(cs).localCheckpoint(true)
      })
      val in = DuplicateDetection.rowSignatures(LakeIndexer.cells(Seq(q.lake(spark))))
        .select(col("sig").as("in_sig"), col("sk_hi"), col("sk_lo"))
      rec("dup.sig_matches", sigs.join(in, Seq("sk_hi", "sk_lo")).where(col("sig") === col("in_sig"))
        .count().toDouble)
      rec("dup.tables_found", found.toDouble)
    }

    // untimed warm-up: one op of each kind on the built index
    val warmS = ctx.secs {
      search(multiTs(0), "warmup"); search(singleTs(0), "warmup")
      enrich(enrichTs(0)); dup(dupTs(0))
    }
    ctx.samples.clear(); done.clear()

    // the fixed op mix of one round: 5 multi-attribute searches, 1
    // single-attribute search, 1 enrichment, 1 duplicate lookup and 1
    // index append or removal (alternating by round)
    val mix = "MMEMSMDMA"
    var multi = 0 // templates take turns, so every seed runs the same mix
    val (opsDone, loopS) = ctx.loop(mix) { (op, round, pos) =>
      if (pos == 0) { traceProbe = round % 2 == 1; enrichProbe = traceProbe; dupProbe = traceProbe }
      op match {
        case 'M' => multi += 1; search(multiTs(multi % multiTs.size), "search_multi")
        case 'S' => search(singleTs(0), "search_single")
        case 'E' => enrich(enrichTs(0))
        case 'D' => dup(dupTs(0))
        case 'A' => addOrRemove(round)
      }
    }

    // ---------- output checks ----------
    val mateCheck = new BruteMate(tabs)
    val sampled = g.shuffle(done.indices.filter(i => done(i).kind.startsWith("search")).toSeq).take(8)
    sampled.foreach { i =>
      val d = done(i)
      val want = mateCheck.topK(d.input, d.live, K)
      val got = d.result.map(r => (r.getAs[Int]("tableid"), r.getAs[String]("columns"), r.getAs[Long]("joinability")))
      ctx.check(s"${d.kind} top-$K equals brute force", got == want, s"got=$got want=$want")
      ctx.check(s"${d.kind} planted table ranks first",
        got.headOption.exists(_._1 == d.aux.asInstanceOf[Int]), s"got=${got.headOption} planted=${d.aux}")
    }
    done.filter(_.kind == "enrich").take(3).foreach { d =>
      val t = d.aux.asInstanceOf[EnrichT]
      val top = d.result.headOption
      val plantedCol = s"${t.plantedId}_${tabs(t.plantedId).cols.indexOf("f_strong")}"
      val want = Spearman.cocoa(d.input, tabs(t.plantedId), 0, tabs(t.plantedId).cols.indexOf("f_strong"))
      ctx.check("enrich top feature is the planted column",
        top.exists(_.getAs[String]("table_col_id") == plantedCol), s"got=$top want=$plantedCol")
      ctx.check("enrich top correlation equals direct Spearman",
        top.exists(r => math.abs(r.getAs[Double]("corr") - want) < 1e-9), s"got=$top want=$want")
    }
    done.filter(_.kind == "dup_lookup").take(3).foreach { d =>
      val want = BruteDup.tables(d.input, d.live.toSeq.map(tabs))
      val got = d.result.map(_.getInt(0)).toSet
      ctx.check("duplicate tables equal brute force", got == want && want.nonEmpty, s"got=$got want=$want")
    }

    val per = mutable.LinkedHashMap.empty[String, Double]
    if (ctx.trace) {
      // functions: the cleaning and XASH column expressions alone, each as
      // one action over every cell of the base lake
      val rowsDf = base.toSeq.sorted.map { id =>
        val t = tabs(id)
        t.df(spark).select(array(t.cols.toSeq.map(c => col(c)): _*).as("raw"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val cleaned = rowsDf.select(transform(col("raw"), c => TextFunctions.cleanedText(c)).as("toks"))
      per("functions.clean_tokenize_s") = Stats.median((0 until 3).map(_ =>
        ctx.secs(cleaned.select(sum(aggregate(col("toks"), lit(0L), (a, t) => a + length(t)))).collect())))
      val toks = cleaned.localCheckpoint(true)
      per("functions.xash_s") = Stats.median((0 until 3).map(_ =>
        ctx.secs(toks.select(max(xxhash64(XashKernel.superKeyCol(col("toks"))))).collect())))
      per("index.cells") = nCells.toDouble
      per("index.write_s") = Stats.median(reps.map(_("write_s")))
      per("index.cells_per_s") = nCells / per("index.write_s")
      per("index.cocoa_index_s") = Stats.median(reps.map(_("cocoa_s")))
      per("index.bytes_per_source_byte") = indexBytes.toDouble / sourceBytes
      per("index.add_tables_s") = Stats.median(ctx.lat("index_append") ++ ctx.tlat("index_append")) / 1e3
      val ts = ctx.tracer.of("search_multi")
      per("index.files_scanned_per_search") = Stats.mean(ts.map(_.queries.map(_.filesRead).sum.toDouble))
      layer.foreach { case (k, v) => per(k) = if (k.endsWith("_s")) Stats.median(v.toSeq) else Stats.mean(v.toSeq) }
      per("mate.filter_precision") =
        layer.get("mate.verified_rows").map(_.sum).getOrElse(0.0) /
          math.max(1.0, layer.get("mate.xash_survivors").map(_.sum).getOrElse(0.0))
      per ++= SparkLayer.metrics(ctx, Some("search_multi"), None)
      per("bench.trace_overhead_frac") = ctx.traceOverhead("search_multi")
    }

    Outcome(
      primaryMs = ctx.lat("search_multi"),
      throughputPerS = opsDone / loopS,
      setupRepsS = reps.map(_("total_s")),
      attempted = ctx.attempted, failed = ctx.failed, checksRun = ctx.checksRun,
      report = Map(
        "inputs" -> Map("tables" -> base.size, "cells" -> base.toSeq.map(tabs(_).cells).sum,
          "source_bytes" -> sourceBytes, "index_cells" -> nCells, "index_bytes" -> indexBytes,
          "query_templates" -> (multiTs.size + singleTs.size + enrichTs.size + dupTs.size)),
        "input_gen_s" -> genS, "warmup_s" -> warmS, "loop_ops" -> opsDone, "loop_s" -> loopS,
        "named" -> Map(
          "index_build_s" -> Stats.median(reps.map(_("total_s"))),
          "search_p50_s" -> Stats.median(ctx.lat("search_multi") ++ ctx.lat("search_single")) / 1e3,
          "search_p90_s" -> Stats.quantile(ctx.lat("search_multi") ++ ctx.lat("search_single"), 0.9) / 1e3,
          "search_samples" -> (ctx.lat("search_multi").size + ctx.lat("search_single").size),
          "enrich_p50_s" -> Stats.median(ctx.lat("enrich")) / 1e3,
          "dup_lookup_p50_s" -> Stats.median(ctx.lat("dup_lookup")) / 1e3,
          "index_append_p50_s" -> Stats.median(ctx.lat("index_append")) / 1e3),
        "ops" -> ctx.samples.map { case (k, v) => k -> Stats.summary(v.toSeq) }.toMap),
      layers = per.toMap)
  }
}

/** MATE top-k by brute force over the raw generated tables, following
  * the documented semantics: distinct query tuples keep their minimum
  * row id; a lake row matches a query tuple on a first-column cell and on
  * every further query value; the column combination is the first
  * column's id then, per further value, its sorted matching column ids;
  * a table scores its best combination's match count; top-k orders by
  * score desc, table id asc.
  */
final class BruteMate(tabs: scala.collection.Map[Int, Tab]) {
  def topK(q: Tab, live: Set[Int], k: Int): Seq[(Int, String, Long)] = {
    val bad = Set("", "nan", "unknown")
    val tuples = q.rows.toSeq.map(_.toSeq).distinct.filter(_.forall(v => !bad(v)))
    val scored = live.toSeq.flatMap { id =>
      val t = tabs(id)
      val counts = mutable.HashMap.empty[String, Long]
      t.rows.foreach { r =>
        tuples.foreach { qt =>
          r.indices.filter(r(_) == qt.head).foreach { c0 =>
            val rest = qt.tail.map(v => r.indices.filter(r(_) == v))
            if (rest.forall(_.nonEmpty)) {
              val combo = (c0.toString +: rest.map(_.mkString("_"))).mkString("_")
              counts(combo) = counts.getOrElse(combo, 0L) + 1
            }
          }
        }
      }
      if (counts.isEmpty) None
      else {
        val best = counts.toSeq.sortBy { case (c, n) => (-n, c) }.head
        Some((id, best._1, best._2))
      }
    }
    scored.sortBy { case (id, _, n) => (-n, id) }.take(k)
  }
}

/** Duplicate-table lookup by brute force: a table qualifies when its rows
  * (as sorted value multisets) cover every input row or all its own rows
  * are input rows.
  */
object BruteDup {
  def tables(q: Tab, lake: Seq[Tab]): Set[Int] = {
    val inSigs = q.rows.map(_.sorted.toSeq)
    val inSet = inSigs.toSet
    lake.filter { t =>
      val sigs = t.rows.map(_.sorted.toSeq)
      val tSet = sigs.toSet
      val inCov = inSigs.count(tSet)
      val extCov = sigs.count(inSet)
      (inCov > 0 || extCov > 0) && (inCov >= inSigs.length || extCov >= sigs.length)
    }.map(_.id).toSet
  }
}

/** COCOA's numeric correlation computed directly on the joined frame:
  * Spearman (average-tie ranks) of the target against the joined
  * feature, where an input row without a join partner takes the middle
  * rank ceil(n/2).
  */
object Spearman {
  def avgRanks(xs: Seq[Double]): Seq[Double] = {
    val order = xs.indices.sortBy(xs(_))
    val ranks = Array.ofDim[Double](xs.size)
    var i = 0
    while (i < order.size) {
      var j = i
      while (j + 1 < order.size && xs(order(j + 1)) == xs(order(i))) j += 1
      val r = (i + j) / 2.0 + 1
      (i to j).foreach(p => ranks(order(p)) = r)
      i = j + 1
    }
    ranks.toSeq
  }

  def pearson(x: Seq[Double], y: Seq[Double]): Double = {
    val n = x.size.toDouble
    val (sx, sy) = (x.sum, y.sum)
    val sxy = x.zip(y).map { case (a, b) => a * b }.sum
    val (sx2, sy2) = (x.map(a => a * a).sum, y.map(b => b * b).sum)
    (n * sxy - sx * sy) / (math.sqrt(n * sx2 - sx * sx) * math.sqrt(n * sy2 - sy * sy))
  }

  /** Input columns: (key, target); the feature is `featCol` of `ext`,
    * joined on `ext`'s `keyCol`.
    */
  def cocoa(input: Tab, ext: Tab, keyCol: Int, featCol: Int): Double = {
    val feat = ext.rows.groupBy(_(keyCol)).map { case (k, rs) => k -> rs.map(_(featCol).toDouble).max }
    val target = input.rows.map(_(1).toDouble).toSeq
    val rt = avgRanks(target)
    val n = input.rows.length
    val joined = input.rows.indices.filter(i => feat.contains(input.rows(i)(0)))
    val xr = avgRanks(joined.map(i => feat(input.rows(i)(0))))
    val x = Array.fill(n)(math.ceil(n / 2.0))
    joined.zip(xr).foreach { case (i, r) => x(i) = r }
    pearson(x.toSeq, rt)
  }
}
