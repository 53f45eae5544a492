package perfbench

import java.lang.management.ManagementFactory
import java.math.MathContext
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.SparkEntry

/** JVM side of the benchmark: runs one workload and writes what it saw
  * to a JSON file; perfbench/run.py turns that into metrics.
  *
  * One client thread, closed loop. The run is:
  *   1. the Spark session (`local[cores]`);
  *   2. the box probe, a fixed kernel with no graft code;
  *   3. the cells' `*Setup` functions, once, in the run's own fresh
  *      `java.io.tmpdir`;
  *   4. an untimed warm and check pass that calls every cell once,
  *      collects its output and reports its row count and
  *      order-insensitive hash;
  *   5. timed rounds (at least `--min-rounds`, then while another whole
  *      round fits in `--seconds`), each one pass over the cells in an
  *      order drawn from `--seed`; a call is the cell's
  *      `SparkEntry.queries` entry (build) plus a noop `save()` (exec);
  *   6. the box probe again.
  * With `--trace 1` a [[Recorder]] is attached for the whole run.
  */
object Runner {
  /** Wall clock in epoch milliseconds with nanoTime resolution, so the
    * runner's spans line up with Spark's epoch-ms event times.
    */
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val data = opts("data")
    val minRounds = opts.getOrElse("min-rounds", "1").toInt
    val maxRounds = opts.getOrElse("max-rounds", Int.MaxValue.toString).toInt

    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = if (trace) Some(new Recorder(spark)) else None
    val sessionReadyMs = nowMs

    val catalog = SparkEntry.queries
    val cells = Workloads.cells(workload, catalog.keySet)
    val setupFns = cells.flatMap(Workloads.setups.get)

    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    def span[A](name: String, parent: String, attrs: (String, Any)*)(body: => A): A = {
      val start = nowMs
      try body
      finally spans += Map("name" -> name, "parent" -> parent,
        "start_ms" -> start, "end_ms" -> nowMs) ++ attrs
    }
    def tag(phase: String, round: Int, what: String): Unit =
      spark.sparkContext.setLocalProperty(Recorder.TagKey, s"$phase|$round|$what")

    val probes = mutable.ArrayBuffer.empty[Double]
    def probePoint(): Unit = {
      tag("probe", -1, "probe")
      probes += Seq.fill(2)(probe(spark)).min
    }
    probePoint()

    // fixture staging, cold: the run's java.io.tmpdir starts empty
    val setupErrors = mutable.ArrayBuffer.empty[Map[String, Any]]
    span("fixtures", "setup") {
      setupFns.foreach { case (name, fn) =>
        tag("setup", 0, name)
        span(s"fixtures/$name", "fixtures", "fn" -> name) {
          try fn(spark, data)
          catch {
            case t: Throwable => setupErrors += Map("fn" -> name, "error" -> t.toString.take(500))
          }
        }
      }
    }
    val checks = span("warm", "setup") {
      cells.map { cell =>
        tag("warm", 0, cell)
        try {
          val (rows, hash) = contentHash(catalog(cell)(spark, data))
          Map("cell" -> cell, "rows" -> rows, "hash" -> hash)
        } catch {
          case t: Throwable => Map("cell" -> cell, "error" -> t.toString.take(500))
        }
      }
    }

    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rounds = mutable.ArrayBuffer.empty[(Double, Double)]
    val rng = new scala.util.Random(seed)
    val timedStart = nowMs
    def elapsedS: Double = (nowMs - timedStart) / 1000
    def medianRoundS: Double = {
      val ds = rounds.map { case (a, b) => (b - a) / 1000 }.sorted
      if (ds.isEmpty) 0.0 else ds(ds.size / 2)
    }
    while (rounds.size < maxRounds &&
        (rounds.size < minRounds || elapsedS + medianRoundS <= seconds)) {
      val round = rounds.size
      val roundStart = nowMs
      rng.shuffle(cells).foreach { cell =>
        unpersistAll(spark)
        tag("build", round, cell)
        val start = nowMs
        var built: Option[Double] = None
        val error = try {
          val df = catalog(cell)(spark, data)
          built = Some(nowMs)
          tag("exec", round, cell)
          df.write.mode("overwrite").format("noop").save()
          None
        } catch { case t: Throwable => Some(t.toString.take(500)) }
        calls += Map("round" -> round, "cell" -> cell, "start_ms" -> start,
          "built_ms" -> built, "end_ms" -> nowMs, "error" -> error)
      }
      rounds += ((roundStart, nowMs))
    }
    probePoint()
    spark.stop()

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "cells" -> cells,
      "setup_fns" -> setupFns.map(_._1), "all_setup_fns" -> Workloads.setups.values.map(_._1),
      "composed_cells" -> Workloads.storeMaintenance,
      "process_start_ms" -> processStartMs, "session_ready_ms" -> sessionReadyMs,
      "timed_start_ms" -> timedStart,
      "rounds" -> rounds.map { case (a, b) => Map("start_ms" -> a, "end_ms" -> b) },
      "setup_errors" -> setupErrors, "calls" -> calls, "checks" -> checks,
      "spans" -> spans, "probe_ms" -> probes,
      "trace" -> recorder.map(_.events))
    JsonMapper.builder().addModule(DefaultScalaModule).build()
      .writeValue(new java.io.File(opts("out")), result)
  }

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** The box probe: `graft.Bench.probe`'s shape (xxhash64 over a range, a
    * 512-key shuffle, noop sink) at a size that takes about half a second
    * on four cores. It contains no graft code.
    */
  private def probe(spark: SparkSession): Double = {
    val start = nowMs
    spark.range(0, 20000000L, 1, spark.sparkContext.defaultParallelism)
      .select(xxhash64(col("id")).as("h"))
      .groupBy(pmod(col("h"), lit(512)).as("k")).count()
      .write.mode("overwrite").format("noop").save()
    nowMs - start
  }

  /** Row count and an order-insensitive hash of `df`'s collected rows:
    * the wrapping sum of each row's MD5 over a canonical text form, with
    * columns in name order and doubles rounded to 10 significant digits
    * (so last-ulp summation noise is not a mismatch).
    */
  def contentHash(df: DataFrame): (Long, String) = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var n = 0L
    df.collect().foreach { row =>
      val md = MessageDigest.getInstance("MD5")
        .digest(order.map(i => canon(row.get(i))).mkString("\u0001").getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(md).getLong
      n += 1
    }
    (n, f"$sum%016x")
  }

  private val digits = new MathContext(10)

  private def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double if d == 0.0 => "0"
    case d: Double => new java.math.BigDecimal(d).round(digits).stripTrailingZeros.toString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row =>
      val fields = Option(r.schema).map(_.fieldNames.zipWithIndex.sortBy(_._1).map(_._2))
        .getOrElse(r.toSeq.indices.toArray)
      fields.map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
