package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}

/** Closed-loop benchmark driver for `SparkEntry.queries`.
  *
  * One driver thread issues the workload's queries one after another. Each
  * query is timed as two spans: `build` is the call into the registry's
  * public function `SparkEntry.queries(name)(spark, sf)`, `execute` is the
  * final `noop` write that forces every output column. A full collection
  * (which gives the query's live heap), cache release and another full
  * collection run between queries, outside both spans.
  *
  * Usage: `Harness setup` prints `READY` once the session exists and exits.
  * `Harness run <sfDir> <cores> <warmup> <passes> <trace 0|1> <outDir> <batch order> <seed order>`
  * (comma-separated query lists) runs the cold pass in batch order, then
  * `warmup` untimed passes in seed order and `passes` measured passes in
  * orders balanced over the seed order (or, when `trace` is 1, one measured
  * pass, two traced passes and one more untraced pass), and writes
  * `result.json` (and `trace.json` when traced) to `outDir`. The cold pass
  * also saves each result for the output check; queries without a DuckDB
  * oracle in `SparkEntry.oracleSql` are instead checksummed in the cold pass
  * and again in the last measured pass.
  */
object Harness {
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  /** CPU time per live application thread. JIT compiler and GC threads are
    * not in this view: at this input size the compilers stay busy through
    * every pass, and their share varies from JVM to JVM. */
  private def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }
  private def cpuSince(before: Map[Long, Long]): Long =
    threadCpu().map { case (id, t) => t - before.getOrElse(id, 0L) }.sum
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private val baseNano = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis().toDouble
  /** A `System.nanoTime` reading on the epoch-millisecond clock Spark's events use. */
  def toEpochMs(nano: Long): Double = baseEpoch + (nano - baseNano) / 1e6

  private val memory = ManagementFactory.getMemoryMXBean

  def main(args: Array[String]): Unit = args.toList match {
    case "setup" :: cores :: Nil =>
      val spark = GraftSession.create(cores.toInt)
      println("READY"); System.out.flush()
      spark.stop()
    case "run" :: sf :: cores :: warmup :: passes :: trace :: out :: batch :: order :: Nil =>
      run(sf, cores.toInt, warmup.toInt, passes.toInt, trace == "1", out,
        batch.split(",").toSeq, order.split(",").toSeq)
    case _ =>
      System.err.println(
        "usage: Harness setup <cores> | Harness run <sfDir> <cores> <warmup> <passes> <trace> <outDir> <batch> <order>")
      sys.exit(2)
  }

  final case class QTime(pass: Int, name: String, startNs: Long, buildEndNs: Long, endNs: Long,
                         cpuNs: Long, gcMs: Long, jitMs: Long, liveBytes: Long, error: Option[String]) {
    def buildS: Double = (buildEndNs - startNs) / 1e9
    def execS: Double = (endNs - buildEndNs) / 1e9
    def wallS: Double = (endNs - startNs) / 1e9
  }

  def run(sf: String, cores: Int, warmup: Int, passes: Int, traced: Boolean, out: String,
          batch: Seq[String], names: Seq[String]): Unit = {
    val spark = GraftSession.create(cores)
    println("READY"); System.out.flush()
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val dark = names.filterNot(SparkEntry.oracleSql.contains).toSet // no DuckDB oracle
    val calibStart = calibrate(cores)
    val errors = mutable.LinkedHashMap.empty[String, String]
    val checks = mutable.LinkedHashMap.empty[String, Json.V]

    var passNo = 0
    def pass(onResult: (String, DataFrame) => Unit = (_, _) => (), order: Seq[String] = names): Seq[QTime] = {
      passNo += 1
      order.map { q =>
        val sc = spark.sparkContext
        val cpu0 = threadCpu(); val gc0 = gcMs; val jit0 = jit.getTotalCompilationTime
        val t0 = System.nanoTime()
        var t1 = t0
        var df: DataFrame = null
        val err = try {
          sc.setLocalProperty(Tracer.PhaseKey, s"$passNo/$q/build")
          df = SparkEntry.queries(q)(spark, sf)
          t1 = System.nanoTime()
          sc.setLocalProperty(Tracer.PhaseKey, s"$passNo/$q/execute")
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => if (t1 == t0) t1 = System.nanoTime(); Some(describe(e)) }
        val t2 = System.nanoTime()
        val cpu = cpuSince(cpu0); val gc = gcMs - gc0; val jitMs = jit.getTotalCompilationTime - jit0
        sc.setLocalProperty(Tracer.PhaseKey, null)
        err.foreach(m => errors.getOrElseUpdate(q, m))
        if (err.isEmpty) {
          try onResult(q, df)
          catch { case e: Throwable => errors.getOrElseUpdate(q, "check: " + describe(e)) }
        }
        // Live heap at the end of the query, while its cached blocks and
        // broadcasts are still held: a full collection leaves only live data,
        // so this does not depend on where the young collections fell. The
        // collection after the release lets Spark's cleaner drop the query's
        // broadcasts before the next query; without it, the next reading
        // often still held them. Now and then one still does, so the heap
        // metric takes each query's least reading.
        System.gc()
        val live = memory.getHeapMemoryUsage.getUsed
        graft.llm.CacheScope.releaseAll(blocking = true)
        System.gc()
        QTime(passNo, q, t0, t1, t2, cpu, gc, jitMs, live, err)
      }
    }

    // Cold pass: the first pass in this fresh JVM, in the workload's batch
    // order, as a one-shot batch job runs its steps. After each query's
    // spans, untimed: oracle-covered results go to parquet for the DuckDB
    // comparison, oracle-dark ones get a checksum.
    val checkDir = Paths.get(out, "check")
    val coldSums = mutable.Map.empty[String, (Long, BigDecimal)]
    val cold = pass(order = batch, onResult = { (q, df) =>
      if (dark(q)) coldSums(q) = checksum(df)
      else {
        df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(q).toString)
        checks(q) = Json.obj("kind" -> Json.str("oracle"), "sql" -> Json.str(SparkEntry.oracleSql(q)))
      }
    })

    // Untimed warm-up. Right after the cold pass the JIT still compiles
    // several CPU-seconds per pass; when the host is busy it falls behind,
    // and the application threads then spend more CPU in less optimised
    // code. Timing those passes would magnify the machine's noise.
    (1 to warmup).foreach(_ => pass())

    // Measured passes, closed loop. Pass i runs row i of a balanced Latin
    // square over the seed's order, so each query runs after every other
    // one equally often: a query that is slower (or holds more heap) after
    // some other query would otherwise make the result depend on the seed.
    // A traced run reports no end-to-end metric, so it measures one pass
    // (row 0) before its traced passes. The last pass checksums the
    // oracle-dark results again, after their spans; the checksum must match
    // the cold pass's.
    val n = if (traced) 1 else passes
    val warm = (0 until n).map { i =>
      pass(order = balancedRow(names, i), onResult = { (q, df) =>
        if (i == n - 1 && dark(q)) {
          val (rows, sum) = checksum(df)
          val ok = coldSums.get(q).contains((rows, sum))
          checks(q) = Json.obj("kind" -> Json.str("repeat"), "rows" -> Json.num(rows),
            "checksum" -> Json.str(sum.toString), "ok" -> Json.bool(ok))
        }
      })
    }

    // Two traced passes between two untraced ones (the last warm pass and
    // one after): the order U T T U cancels the passes' steady speed-up
    // when the tracing overhead is taken as traced ÷ untraced wall.
    val (tracedPasses, untracedRef) = if (!traced) (Nil, Nil) else {
      val tracer = new Tracer
      def tracedPass(i: Int): TraceAgg = {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        val times = pass()
        tracer.quiesce()
        spark.listenerManager.unregister(tracer)
        spark.sparkContext.removeSparkListener(tracer)
        val r = TraceAgg.build(i, times, tracer, cores)
        tracer.clear()
        r
      }
      val ps = Seq(tracedPass(1), tracedPass(2))
      (ps, Seq(warm.last, pass()))
    }

    val calibEnd = calibrate(cores)

    def passJson(p: Seq[QTime]) = Json.arr(p.map(t => Json.obj(
      "query" -> Json.str(t.name), "build_s" -> Json.num(t.buildS), "execute_s" -> Json.num(t.execS),
      "wall_s" -> Json.num(t.wallS), "cpu_s" -> Json.num(t.cpuNs / 1e9),
      "gc_s" -> Json.num(t.gcMs / 1e3), "jit_s" -> Json.num(t.jitMs / 1e3),
      "live_mb" -> Json.num(t.liveBytes / 1048576.0),
      "error" -> t.error.map(Json.str).getOrElse(Json.nul))))
    val result = Json.obj(
      "cores" -> Json.num(cores),
      "calib_s" -> Json.arr(Seq(Json.num(calibStart), Json.num(calibEnd))),
      "cold" -> passJson(cold),
      "warm" -> Json.arr(warm.toSeq.map(passJson)),
      "errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "checks" -> Json.obj(checks.toSeq: _*),
      "traced" -> Json.arr(tracedPasses.map(_.summary)),
      "untraced_ref" -> Json.arr(untracedRef.map(passJson)))
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "result.json"), Json.render(result))
    if (traced) Files.writeString(Paths.get(out, "trace.json"), Json.render(Json.obj(
      "passes" -> Json.arr(tracedPasses.map(_.spansJson)),
      "repeat" -> TraceAgg.repeatReport(tracedPasses))))
    spark.stop()
  }

  /** Row `i` of a Williams design over `names`: the first row is positions
    * 0, 1, n-1, 2, n-2, ...; row k adds k to each (mod n). For an even
    * count, every ordered pair of queries is adjacent in exactly one row. */
  def balancedRow(names: Seq[String], i: Int): Seq[String] = {
    val n = names.size
    val first = (0 until n).map(j => if (j % 2 == 1) (j + 1) / 2 else (n - j / 2) % n)
    first.map(j => names((j + i) % n))
  }

  private def describe(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  /** Row count and an order-independent checksum: the exact sum of per-row
    * xxhash64 values, with floating-point cells rounded to 6 decimals so a
    * different summation order inside Spark does not change it. */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => F.round(c.cast(DoubleType), 6)
      case ArrayType(et, _) => F.transform(c, x => norm(x, et))
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => norm(F.col(s"`${f.name}`"), f.dataType))
    val row = df.select(F.xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(F.count(F.lit(1)), F.sum("h")).head()
    (row.getLong(0), Option(row.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Fixed pure-JVM CPU + memory kernel on `cores` threads; independent of
    * graft and Spark, so its wall time tracks the machine, not the code. */
  def calibrate(cores: Int): Double = {
    val t0 = System.nanoTime()
    val workers = (0 until cores).map { i =>
      val t = new Thread(() => {
        val n = 1 << 20
        val a = new Array[Long](n)
        var x = 0x9E3779B97F4A7C15L * (i + 1)
        var k = 0
        while (k < n) { x = x * 6364136223846793005L + 1442695040888963407L; a(k) = x; k += 1 }
        var acc = 0L; var r = 0
        while (r < 3) {
          var j = 0; var idx = (x >>> 40).toInt & (n - 1)
          while (j < n) { acc += a(idx); idx = ((a(idx) >>> 33).toInt ^ j) & (n - 1); j += 1 }
          r += 1
        }
        if (acc == 42L) println("") // keeps the reads live
      })
      t.start(); t
    }
    workers.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
