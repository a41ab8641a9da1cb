package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AnnIndexLog, AnnOps, PerfbenchAnnBridge}

/** `ann_serve`: a seeded, clustered vector corpus served from a GraftLog
  * index. The model fit is a prepared fixture (outside set-up); set-up
  * builds the index with `AnnIndexLog.build`. The loop interleaves
  * single-query serves (`AnnIndexLog.serveIvfKnn`), batch serves
  * (`AnnOps.ivfPqKnnBatch` over the resolved postings) and upserts
  * (`AnnIndexLog.upsert`). Recall@10 is measured against the brute-force
  * top-10 after each upsert, which the operation stream carries.
  */
object AnnServe {
  val K = 10
  val NProbe = 3
  val SetupReps = 3
  /** Loop cycle: this many single serves, then one batch serve, then one
    * upsert. Sized so a 10 s run times two whole cycles, twenty single
    * serves for the median. */
  val SinglesPerCycle = 10

  def loadModel(path: String): Option[AnnOps.AnnModel] =
    if (!new java.io.File(path).exists) None else {
      val in = new java.io.ObjectInputStream(new java.io.FileInputStream(path))
      try Some(in.readObject().asInstanceOf[AnnOps.AnnModel]) finally in.close()
    }

  def saveModel(m: AnnOps.AnnModel, path: String): Unit = {
    val tmp = new java.io.File(path + ".part")
    val out = new java.io.ObjectOutputStream(new java.io.FileOutputStream(tmp))
    try out.writeObject(m) finally out.close()
    java.nio.file.Files.move(tmp.toPath, new java.io.File(path).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def run(spark: SparkSession, a: Main.Args, rec: Record): Unit = {
    import spark.implicits._
    val dir = a.fixture
    val meta = a.fixtureMeta
    val nLists = meta.get("n_lists").asInt
    val dims = meta.get("dims").asInt
    val nBatches = a.opsJson.get("batches").asInt
    val singles = a.opsJson.get("singles")
    val batchSets = a.opsJson.get("batch_sets")
    val base = Tables.load(spark, dir, "embeddings")

    // Prepared fixture, outside set-up: the model fit, cached per
    // fixture and engine build.
    val t0 = System.nanoTime()
    val model = loadModel(a.modelCache).getOrElse {
      val m = AnnOps.fitAnnModel(spark, base, nLists = nLists, m = 8,
        dsub = dims / 8, ksub = 16)
      saveModel(m, a.modelCache)
      m
    }
    rec.put("prepare_s", Main.ms(t0) / 1e3)

    val setup = Main.repeatWalls(SetupReps) { i =>
      AnnIndexLog.build(spark, s"${a.run}/index$i", base, model)
    }
    (0 until SetupReps - 1).foreach(i => Main.rmTree(s"${a.run}/index$i"))
    rec.put("setup_walls_s", setup)
    val idx = s"${a.run}/index${SetupReps - 1}"
    val postingsTable = s"$idx/postings"
    val builtFiles = graft.sources.TxLog.state(postingsTable)._1.map(_.path).toSet

    // Ground truth after each upsert (from the operation stream) and the
    // query vectors, loaded before the loop.
    val truthJson = a.opsJson.get("truth")
    val truthRow: Map[Long, Int] = {
      val q = a.opsJson.get("truth_qids")
      (0 until q.size).map(i => q.get(i).asLong -> i).toMap
    }
    def truthIds(step: Int, q: Long): Set[Long] = {
      val ids = truthJson.get(step).get(truthRow(q))
      (0 until ids.size).map(i => ids.get(i).asLong).toSet
    }
    val nextIds = a.opsJson.get("next_id")
    val qids = truthRow.keys.toSeq
    val qvec: Map[Long, Array[Float]] = base.filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val paths = scala.collection.mutable.ArrayBuffer(s"$dir/embeddings.parquet")
    def emb: DataFrame = spark.read.schema(Tables.embeddings).parquet(paths.toSeq: _*)

    var nSingle, nBatch, attempted = 0
    var upsertedRows = 0L
    var failed = 0
    var applied = 0
    val readMs, writeMs = scala.collection.mutable.ArrayBuffer[Double]()
    val recalls, probeSingle, probeBatch = scala.collection.mutable.ArrayBuffer[Double]()
    var queriesServed = 0
    // (postings version, probed lists) of each traced serve.
    val probes = scala.collection.mutable.ArrayBuffer[(Long, Seq[Int])]()

    def check(q: Long, ids: Seq[Long],
        recalls: scala.collection.mutable.ArrayBuffer[Double]): Unit = {
      val nextId = nextIds.get(applied).asLong
      if (ids.size != K || ids.distinct.size != K || ids.contains(q) ||
          ids.exists(id => id < 0 || id >= nextId)) failed += 1
      val truth = truthIds(applied, q)
      recalls += ids.count(truth.contains).toDouble / K
    }

    def single(trace: Option[Trace], q: Long,
        recalled: scala.collection.mutable.ArrayBuffer[Double]): Unit = {
      val r0 = System.nanoTime()
      val rows = trace match {
        case None =>
          AnnIndexLog.serveIvfKnn(spark, idx, emb, q, K, NProbe).collect()
        case Some(tr) =>
          val r = tr.span("ann.resolve_ms")(AnnIndexLog.resolve(spark, idx))
          probes += ((r.postingsVersion, PerfbenchAnnBridge.probeLists(r.model, qvec(q).toSeq, NProbe)))
          val df = tr.span("operators.construct_ms")(
            AnnIndexLog.serveIvfKnnResolved(spark, idx, emb, r, q, K, NProbe))
          Trace.phasedCollect(tr, df)
      }
      Main.digest(rows)
      val ms = Main.ms(r0)
      readMs += ms; queriesServed += 1; attempted += 1
      check(q, rows.map(_.getAs[Long]("vec_id")).toSeq, recalled)
    }

    def batchServe(trace: Option[Trace], qs: Seq[Long],
        recalled: scala.collection.mutable.ArrayBuffer[Double]): Unit = {
      val r = trace.map(_.span("ann.resolve_ms")(AnnIndexLog.resolve(spark, idx)))
        .getOrElse(AnnIndexLog.resolve(spark, idx))
      trace.foreach(_ => qs.foreach(q =>
        probes += ((r.postingsVersion, PerfbenchAnnBridge.probeLists(r.model, qvec(q).toSeq, NProbe)))))
      val qdf = qs.map(q => (q, qvec(q).toSeq)).toDF("query_id", "qe")
      val df = AnnOps.ivfPqKnnBatch(spark, emb, AnnIndexLog.postings(spark, idx, r),
        r.model, qdf, K, NProbe)
      val rows = trace.map(Trace.phasedCollect(_, df)).getOrElse(df.collect())
      Main.digest(rows)
      queriesServed += qs.size; attempted += qs.size
      val byQ = rows.groupBy(_.getAs[Long]("query_id"))
      qs.foreach(q => check(q, byQ.getOrElse(q, Array.empty[Row])
        .map(_.getAs[Long]("vec_id")).toSeq, recalled))
    }

    def upsert(trace: Option[Trace]): Unit = {
      val path = f"${a.ops}/upserts/u$applied%04d.parquet"
      val batch = spark.read.schema(Tables.embeddings).parquet(path)
      val w0 = System.nanoTime()
      trace match {
        case None =>
          AnnIndexLog.upsert(spark, idx, batch)
          writeMs += Main.ms(w0)
        case Some(tr) =>
          tr.span("txlog.state_ms")(graft.sources.TxLog.state(postingsTable))
          tr.tagged(s"upsert$applied")(AnnIndexLog.upsert(spark, idx, batch))
          val wall = Main.ms(w0)
          writeMs += wall
          tr.count("txlog.driver_ms", wall - tr.jobWallMs(s"upsert$applied"))
      }
      attempted += 1
      paths += path
      upsertedRows += nextIds.get(applied + 1).asLong - nextIds.get(applied).asLong
      applied += 1
    }

    def cycle(trace: Option[Trace]): Unit = {
      (0 until SinglesPerCycle).foreach { _ =>
        single(trace, singles.get(nSingle % singles.size).asLong, recalls)
        nSingle += 1
      }
      val set = batchSets.get(nBatch % batchSets.size)
      nBatch += 1
      batchServe(trace, (0 until set.size).map(j => set.get(j).asLong), recalls)
      if (applied < nBatches) upsert(trace)
    }

    def segment(trace: Option[Trace], seconds: Double): Double = {
      val ts = System.nanoTime()
      Main.loop(a, seconds)(_ => cycle(trace))
      Main.ms(ts) / 1e3
    }

    // One untimed warm-up cycle, checked and counted like the rest. It
    // serves fixed queries (the first ground-truth queries, not the
    // seed's) on the freshly built index, so its recall is the same on
    // every run: this is the recall run.py gates, per serve path.
    val fixedQs = (0 until SinglesPerCycle + batchSets.get(0).size)
      .map(i => a.opsJson.get("truth_qids").get(i).asLong)
    fixedQs.take(SinglesPerCycle).foreach(q => single(None, q, probeSingle))
    batchServe(None, fixedQs.drop(SinglesPerCycle), probeBatch)
    if (applied < nBatches) upsert(None)
    readMs.clear(); writeMs.clear(); queriesServed = 0

    val loopS = if (!a.trace) segment(None, a.seconds) else {
      val wall0 = segment(None, a.seconds / 2)
      rec.put("untraced", Map("read_ms" -> readMs.toSeq, "write_ms" -> writeMs.toSeq,
        "loop_s" -> wall0, "queries" -> queriesServed))
      readMs.clear(); writeMs.clear(); queriesServed = 0
      val tr = new Trace(spark)
      val wall1 = segment(Some(tr), a.seconds / 2)
      val layers = tr.layerTotals(readMs.size + writeMs.size)
      tr.close()
      Seq("operators.construct_ms", "plans.optimize_ms", "plans.physical_ms",
        "ann.resolve_ms", "txlog.state_ms").foreach(k =>
        layers.put(k, Trace.median(tr.spanValues(k))))
      layers.put("txlog.driver_ms", Trace.median(tr.countValues("txlog.driver_ms")))
      layers.put("tables.load_ms", Trace.median((1 to 5).map { _ =>
        val t = System.nanoTime(); Tables.load(spark, dir, "embeddings"); Main.ms(t)
      }))
      // Candidates a probe touches, from per-list posting counts at the
      // postings version each traced serve read.
      val sizes = probes.map(_._1).distinct.map { v =>
        v -> graft.sources.TxLog.snapshot(spark, s"$idx/postings", Some(v))
          .groupBy("list_id").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
      }.toMap
      val cands = probes.map { case (v, ls) => ls.map(l => sizes(v).getOrElse(l, 0L)).sum.toDouble }
      // Files a probe opens: the stats-overlapping postings files of its
      // lists at the version it read (the serve's own pruning rule).
      val opened = probes.map { case (v, ls) =>
        val (files, m) = graft.sources.TxLog.state(postingsTable, Some(v))
        ls.flatMap(l => graft.sources.TxLog.overlapping(files, m, l.toString, l.toString))
          .map(_.path).distinct.size.toDouble
      }
      layers.put("txlog.files_opened_per_read", Trace.median(opened))
      val appends = graft.sources.TxLog.history(postingsTable).filter(_._2 == "append").drop(1)
      val nAppends = math.max(appends.size, 1).toDouble
      layers.put("txlog.files_added", appends.map(_._3).sum / nAppends)
      layers.put("txlog.files_removed", appends.map(_._4).sum / nAppends)
      layers.put("txlog.rows_rewritten_per_row_changed",
        appends.map(_._5).sum.toDouble / math.max(upsertedRows, 1L))
      val added = graft.sources.TxLog.state(postingsTable)._1.map(_.path).toSet -- builtFiles
      layers.put("txlog.bytes_written", added.toSeq.map(p =>
        java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum / nAppends)
      layers.put("ann.lists_probed", Trace.median(probes.map(_._2.size.toDouble)))
      layers.put("ann.candidates_per_query", Trace.median(cands))
      layers.put("ann.useful_ratio", K / math.max(Trace.median(cands), 1.0))
      Kernels.measure(layers, texts = IndexedSeq.empty,
        vectors = base.select("embedding").limit(2000).collect()
          .map(_.getSeq[Float](0).toArray).toIndexedSeq)
      rec.put("layers", layers)
      wall1
    }
    rec.put("read_ms", readMs.toSeq)
    rec.put("write_ms", writeMs.toSeq)
    rec.put("loop_s", loopS)
    rec.put("queries", queriesServed)
    def mean(xs: Seq[Double]) = xs.sum / math.max(xs.size, 1)
    rec.put("recall", mean(recalls.toSeq))
    rec.put("recall_probe_single", mean(probeSingle.toSeq))
    rec.put("recall_probe_batch", mean(probeBatch.toSeq))
    rec.put("writes", writeMs.size)
    rec.put("attempted", attempted)
    rec.put("failed", failed)
  }
}
