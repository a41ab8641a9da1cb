package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** JVM side of the repo benchmark (see perfbench/README.md).
  *
  * One process, one closed-loop client: each operation starts only after
  * the previous one returned. The session comes from
  * `graft.GraftSession.builder` with deployment settings only (master and
  * local dir; heap size is the JVM's -Xmx), so it measures what a library
  * user of the engine gets.
  *
  * Usage: perfbench.Main <workload> <fixtureDir> <opsDir> <runDir> <seconds>
  *          <trace 0|1> <seed> <fixedOps (0 = time-bound)> <out.json>
  *          <modelCache>
  *
  * `fixtureDir` holds the workload's fixed tables, `opsDir` the run's
  * seeded operation stream (ops.json plus batch files).
  *
  * Writes one JSON document to `out.json` with raw samples; run.py turns
  * it into the metrics line and checks outputs against DuckDB.
  */
object Main {

  final case class Args(workload: String, fixture: String, ops: String,
      run: String, seconds: Double, trace: Boolean, seed: Long,
      fixedOps: Int, out: String, modelCache: String) {
    lazy val opsJson: com.fasterxml.jackson.databind.JsonNode =
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(s"$ops/ops.json"))
    def fixtureMeta: com.fasterxml.jackson.databind.JsonNode =
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(s"$fixture/meta.json"))
  }

  def main(argv: Array[String]): Unit = {
    val Array(w, fx, opsDir, run, sec, tr, seed, ops, out, model) = argv
    val a = Args(w, fx, opsDir, run, sec.toDouble, tr == "1", seed.toLong,
      ops.toInt, out, model)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(master = s"local[$cpus]")
      .config("spark.local.dir", s"$run/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Record
    rec.put("workload", w)
    rec.put("seed", seed.toLong)
    rec.put("cpus", cpus)
    try {
      w match {
        case "interactive" => Interactive.run(spark, a, rec)
        case "migrate" => Migrate.run(spark, a, rec)
        case "ann_serve" => AnnServe.run(spark, a, rec)
        case other => sys.error(s"unknown workload $other")
      }
      rec.put("floor", floorSample(spark))
      rec.put("peak_rss_mb", peakRssMb())
      rec.put("heap_live_mb", liveHeapMb())
    } finally {
      rec.write(out)
      spark.stop()
    }
  }

  /** Same-boot floor sample (the shape of graft.Bench's `floor`): a fixed
    * trivial job and a fixed SQL aggregate, median of three after one
    * warm-up. Ungated; it tells box noise apart from code effects. */
  def floorSample(spark: SparkSession): java.util.Map[String, Any] = {
    def med(f: => Unit): Double = {
      f
      val xs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      xs(1)
    }
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("job_med_ms", med {
      spark.sparkContext.parallelize(1 to 8, 8).count(): Unit
    })
    m.put("sql_med_ms", med {
      spark.range(600000).agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("id"))).collect(): Unit
    })
    m
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap still reachable at the end of the run (cached tables, plans,
    * index state), after full collections: the memory the workload holds.
    * Peak RSS is reported too, but it moves with GC timing. */
  def liveHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Run `f` `n` times and return each wall in seconds. */
  def repeatWalls(n: Int)(f: Int => Unit): Seq[Double] =
    (0 until n).map { i =>
      val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e9
    }

  /** The closed loop: runs whole cycles `op(i)` until `seconds` have
    * elapsed (a started cycle completes, so every run holds the same
    * operation mix), or exactly `fixedOps` cycles when that is positive
    * (the self-test's mode, which makes op counts independent of machine
    * speed). */
  def loop(a: Args, seconds: Double)(op: Int => Unit): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (if (a.fixedOps > 0) i < a.fixedOps
           else System.nanoTime() < deadline) { op(i); i += 1 }
    i
  }

  /** Order-sensitive digest over every column of every row: this is how a
    * read consumes its full output (a count() would let Catalyst prune
    * computed columns). */
  def digest(rows: Array[Row]): Long = {
    var h = 1125899906842597L
    rows.foreach { r =>
      var i = 0
      while (i < r.length) {
        val v = r.get(i)
        h = 31 * h + (if (v == null) 0 else v.hashCode)
        i += 1
      }
      h = 31 * h + 7
    }
    h
  }

  def rmTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.deleteIfExists(x))
  }

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def writeRows(spark: SparkSession, rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType, path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
}

/** Ordered JSON record, written with Jackson (already on Spark's
  * classpath). Scala collections are converted to Java ones. */
final class Record {
  private val m = new java.util.LinkedHashMap[String, Any]()
  def put(k: String, v: Any): Unit = m.put(k, Record.toJava(v))
  def get(k: String): Any = m.get(k)
  def write(path: String): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(path), m)
}

object Record {
  def toJava(v: Any): Any = v match {
    case s: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[Any, Any]()
      s.foreach { case (k, x) => out.put(k, toJava(x)) }
      out
    case s: Iterable[_] => java.util.Arrays.asList(s.map(toJava(_).asInstanceOf[AnyRef]).toSeq: _*)
    case x => x
  }
}
