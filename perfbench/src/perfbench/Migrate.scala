package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.{Parity, SparkEntry, Tables}
import graft.pipeline.{Migration, Pipeline}
import graft.sources.{DocumentSink, ParquetSink, ParquetSource, TxLog}

/** `migrate`: trireme's shape, read from parquet and not cached.
  *
  *  - Bulk load (the set-up, three times into fresh tables): customer
  *    docs from `solr_doc_assembly` through `Pipeline.run` into
  *    `ParquetSink`, and order docs (orders ⋈ lineitem, one doc per
  *    order) through `TxLog.append(clusterBy = key)`.
  *  - Incremental sync: seeded MERGE batches through `TxLog.mergeBatch`,
  *    mixing recent-key (clustered) and scattered changed rows plus
  *    inserts.
  *  - Read-back: seeded range reads through `TxLog.snapshotRange`.
  *
  * Scan, shuffle, sink write and log commit dominate; planning is small.
  */
object Migrate {
  val Key = "o_orderkey"
  val DocSchema: StructType = StructType.fromDDL(
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, n_lines BIGINT, " +
      "qty DOUBLE, revenue DOUBLE")
  val SetupReps = 3
  /** Range reads after each MERGE batch. */
  val ReadsPerWrite = 4
  val RangeWidth = 400L

  /** One doc per order; the DuckDB twin is in perfbench/check.py. */
  def orderDocs(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"),
        Parity.dsum(col("l_extendedprice")).as("r"))
    Tables.load(spark, dir, "orders")
      .join(li, col(Key) === col("l_orderkey"), "left_outer")
      .select(col(Key), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"),
        coalesce(col("n"), lit(0L)).as("n_lines"),
        coalesce(col("q"), lit(0.0)).as("qty"),
        coalesce(col("r"), lit(0.0)).as("revenue"))
  }

  /** Sink wrapper that times the sink layer for the traced run. */
  final class TimedSink(t: Option[Trace]) extends DocumentSink {
    def save(df: DataFrame, conf: Map[String, String]): Unit = t match {
      case Some(tr) => tr.span("sources.sink_save_ms")(ParquetSink.save(df, conf))
      case None => ParquetSink.save(df, conf)
    }
  }

  def bulkLoad(spark: SparkSession, dir: String, out: String,
      t: Option[Trace]): Long = {
    val custDocs = SparkEntry.queries("solr_doc_assembly")
    val m = Migration(ParquetSource, Map("dir" -> dir, "table" -> "customer"),
      _ => custDocs(spark, dir), new TimedSink(t),
      Map("path" -> s"$out/customer_docs"))
    t.foreach(tr => tr.span("sources.load_ms")(
      ParquetSource.load(spark, m.sourceConf)))
    val n = Pipeline.run(spark, m)
    TxLog.create(spark, s"$out/order_docs", DocSchema, statsCol = Some(Key))
    TxLog.append(spark, s"$out/order_docs", orderDocs(spark, dir),
      clusterBy = Some(Key))
    n
  }

  def run(spark: SparkSession, a: Main.Args, rec: Record): Unit = {
    val dir = a.fixture
    val meta = a.fixtureMeta
    val nBatches = a.opsJson.get("batches").asInt
    val batchMeta = a.opsJson.get("batch_meta")
    val reads = a.opsJson.get("reads")
    val sourceRows = meta.get("source_rows").asLong
    val baseKeys = meta.get("orders").asLong
    rec.put("oracle_sql", Map("solr_doc_assembly" ->
      SparkEntry.oracleSql("solr_doc_assembly")))

    val setup = Main.repeatWalls(SetupReps) { i =>
      bulkLoad(spark, dir, s"${a.run}/load$i", None)
    }
    (0 until SetupReps - 1).foreach(i => Main.rmTree(s"${a.run}/load$i"))
    rec.put("setup_walls_s", setup)
    rec.put("source_rows", sourceRows)
    val out = s"${a.run}/load${SetupReps - 1}"
    val table = s"$out/order_docs"
    val (files0, _) = TxLog.state(table)
    val bytes0 = files0.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f.path))).sum
    val bytesPerRow = bytes0.toDouble / files0.map(_.rows).sum
    rec.put("bytes_per_row", bytesPerRow)

    // Independent model of the key set, for checking every range read:
    // base keys are 0 until baseKeys, and MERGE inserts only add keys
    // (each batch's inserted keys come with the operation stream).
    val inserted = new java.util.TreeSet[java.lang.Long]()
    def expectedInRange(lo: Long, hi: Long): Long =
      math.max(0L, math.min(hi, baseKeys - 1) - lo + 1) +
        inserted.subSet(lo, true, hi, true).size

    var nRead = 0
    var failed = 0
    var applied = 0
    var attempted = 0
    val writeMs, readMs, rowsAsked = scala.collection.mutable.ArrayBuffer[Double]()
    def merge(trace: Option[Trace]): Unit = {
      val b = applied
      val batchPath = f"${a.ops}/batches/b$b%04d.parquet"
      val src = spark.read.schema(DocSchema).parquet(batchPath)
      val w0 = System.nanoTime()
      trace match {
        case None =>
          TxLog.mergeBatch(spark, table, src, Key, "perfbench", b.toLong)
          writeMs += Main.ms(w0)
        case Some(tr) =>
          tr.span("txlog.state_ms")(TxLog.state(table))
          tr.tagged(s"merge$b")(
            TxLog.mergeBatch(spark, table, src, Key, "perfbench", b.toLong))
          val wall = Main.ms(w0)
          writeMs += wall
          tr.count("txlog.driver_ms", wall - tr.jobWallMs(s"merge$b"))
      }
      applied += 1
      attempted += 1
      val ins = batchMeta.get(b).get("inserted")
      (0 until ins.size).foreach(i => inserted.add(ins.get(i).asLong))
      rowsAsked += batchMeta.get(b).get("rows").asDouble
    }

    def rangeRead(trace: Option[Trace]): Unit = {
      val hiKey = baseKeys + inserted.size
      // A tail read starts within the top keys, others anywhere.
      val op = reads.get(nRead % reads.size)
      nRead += 1
      val u = op.get(1).asDouble
      val lo = if (op.get(0).asBoolean) hiKey - 1 - (u * RangeWidth * 4).toLong
        else (u * hiKey).toLong
      val hi = lo + RangeWidth - 1
      val r0 = System.nanoTime()
      val rows = trace match {
        case None =>
          TxLog.snapshotRange(spark, table, lo.toString, hi.toString).collect()
        case Some(tr) =>
          tr.count("txlog.files_opened_per_read",
            TxLog.overlappingFiles(table, lo.toString, hi.toString).size)
          val df = tr.span("operators.construct_ms")(
            TxLog.snapshotRange(spark, table, lo.toString, hi.toString))
          Trace.phasedCollect(tr, df)
      }
      Main.digest(rows)
      readMs += Main.ms(r0)
      attempted += 1
      if (rows.length != expectedInRange(lo, hi) ||
          rows.exists(r => r.getLong(0) < lo || r.getLong(0) > hi))
        failed += 1
    }

    def segment(trace: Option[Trace], seconds: Double): Double = {
      val ts = System.nanoTime()
      Main.loop(a, seconds) { _ =>
        if (applied < nBatches) merge(trace)
        (0 until ReadsPerWrite).foreach(_ => rangeRead(trace))
      }
      Main.ms(ts) / 1e3
    }

    // One untimed warm-up cycle, checked and counted like the rest: JIT
    // and the first MERGE's rewrite of the bulk-loaded layout happen
    // before timing.
    merge(None)
    (0 until ReadsPerWrite).foreach(_ => rangeRead(None))
    readMs.clear(); writeMs.clear()

    val loopS = if (!a.trace) segment(None, a.seconds) else {
      val wall0 = segment(None, a.seconds / 2)
      rec.put("untraced", Map("read_ms" -> readMs.toSeq, "write_ms" -> writeMs.toSeq,
        "loop_s" -> wall0, "reads" -> readMs.size, "writes" -> writeMs.size))
      readMs.clear(); writeMs.clear()
      val tr = new Trace(spark)
      val firstTraced = applied
      val wall1 = segment(Some(tr), a.seconds / 2)
      val layers = tr.layerTotals(readMs.size + writeMs.size)
      Seq("operators.construct_ms", "plans.optimize_ms", "plans.physical_ms",
        "txlog.state_ms").foreach(k =>
        layers.put(k, Trace.median(tr.spanValues(k))))
      Seq("txlog.driver_ms", "txlog.files_opened_per_read").foreach(k =>
        layers.put(k, Trace.median(tr.countValues(k))))
      // A traced bulk load for the sink and source layers.
      Seq("customer", "orders", "lineitem").foreach(t =>
        tr.span("tables.load_ms")(Tables.load(spark, dir, t)))
      layers.put("tables.load_ms", Trace.median(tr.spanValues("tables.load_ms")))
      bulkLoad(spark, dir, s"${a.run}/traced_load", Some(tr))
      layers.put("sources.load_ms", Trace.median(tr.spanValues("sources.load_ms")))
      layers.put("sources.sink_save_ms",
        Trace.median(tr.spanValues("sources.sink_save_ms")))
      layers.put("sources.sink_bytes",
        Main.dirBytes(s"${a.run}/traced_load/customer_docs").toDouble)
      Main.rmTree(s"${a.run}/traced_load")
      val hist = TxLog.history(table).filter(_._2 == "merge")
        .drop(firstTraced)
      val nm = math.max(hist.size, 1).toDouble
      layers.put("txlog.files_added", hist.map(_._3).sum / nm)
      layers.put("txlog.files_removed", hist.map(_._4).sum / nm)
      layers.put("txlog.rows_rewritten_per_row_changed",
        hist.map(_._5).sum.toDouble / math.max(rowsAsked.drop(firstTraced).sum, 1.0))
      Kernels.measure(layers, texts = spark.read
        .parquet(s"$out/customer_docs").select("fields").limit(2000)
        .collect().map(_.getString(0)).toIndexedSeq, vectors = IndexedSeq.empty)
      rec.put("layers", layers)
      tr.close()
      wall1
    }

    // Bytes each MERGE commit added, from the log (outside every timing):
    // the files a version adds over its predecessor, later removals
    // included (copy-on-write keeps them on disk).
    val merges = TxLog.history(table).filter(_._2 == "merge").map(_._1)
    def paths(v: Long) = TxLog.state(table, Some(v))._1.map(_.path).toSet
    val addedBytes = merges.map { v =>
      (paths(v) -- paths(v - 1)).toSeq
        .map(p => java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum
    }
    rec.put("write_amp_bytes_added", addedBytes.sum.toDouble)
    rec.put("write_amp_rows_asked", rowsAsked.sum)
    if (a.trace) {
      val layers = rec.get("layers").asInstanceOf[java.util.Map[String, Any]]
      layers.put("txlog.bytes_written",
        addedBytes.sum.toDouble / math.max(addedBytes.size, 1))
    }

    rec.put("read_ms", readMs.toSeq)
    rec.put("write_ms", writeMs.toSeq)
    rec.put("loop_s", loopS)
    rec.put("reads", readMs.size)
    rec.put("writes", writeMs.size)
    rec.put("batches_applied", applied)
    rec.put("attempted", attempted)
    rec.put("failed", failed)
    // Final state and sink output for the DuckDB check in check.py.
    TxLog.snapshot(spark, table).write.parquet(s"${a.run}/out/final_docs")
    rec.put("sink_path", s"$out/customer_docs")
  }
}
