package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. One client thread issues one catalog query
  * at a time (closed loop) and times it from outside around three public
  * calls: the catalog constructor `fn(spark, dir)`, planning via
  * `queryExecution.executedPlan`, and `graft.Bench.force`.
  *
  * It builds the session, registers functions and runs one untimed
  * warm pass (together the set-up), times `--settle` plus `--passes`
  * whole passes and a few more on a busy host, and then writes each
  * query's result once for the output check. Timings
  * go to `<out>/result.json`. With `--trace 1` passes alternate between
  * untraced and traced (listeners attached), and the traced passes'
  * layer counters and spans are written too.
  *
  * The session conf is the one `graft.Bench` and `graft.Verify` build
  * (`local[n]`, shuffle partitions = n, `nanosAsLong`, UTC) plus the
  * local and warehouse directories, which only say where files go. */
object Main {
  type Q = (SparkSession, String) => DataFrame

  final case class QueryRun(name: String, pass: Int, traced: Boolean,
      startUs: Double, buildUs: Double, planUs: Double, endUs: Double,
      error: Option[String]) {
    def latencyMs: Double = (endUs - startUs) / 1000.0
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = a("out")
    Files.createDirectories(Paths.get(out))
    val names = a("queries").split(',').toSeq.filter(_.nonEmpty)
    val catalog = graft.SparkEntry.queries
    val unknown = names.filterNot(catalog.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(",")}")
    val data = a("data")
    val seed = a("seed").toLong
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val trace = a("trace") == "1"
    val tracer = if (trace) Some(new Trace(spark)) else None
    val runner = new Runner(spark, catalog, names, data, seed, tracer)
    val sessionUs = nowUs()
    val settle = a("settle").toInt
    runner.pass(-1 - settle, traced = false) // untimed warm pass
    val warmEndUs = nowUs()
    val nPasses = a("passes").toInt
    val maxSteal = a("max-steal").toDouble
    var extra = if (trace) 0 else a("extra").toInt
    val heap = new OldGenPeak
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    var quiet = 0
    var p = -settle
    // Whole passes only, so every query weighs the same in the latency
    // distribution. After the warm pass every pass is timed, together
    // with the share of the VM's CPU time the host stole during it: the
    // `--settle` passes numbered below 0, then `--passes` more, then up
    // to `--extra` more (untraced runs only) while fewer than `--passes`
    // of those from 0 on lost at most `--max-steal`. The caller picks
    // the passes it reports from those. A traced run traces passes 1, 2, 5, 6, ... so the JIT's
    // warm-up trend falls on both sides of the tracing-overhead ratio
    // alike.
    while (p < nPasses || (quiet < nPasses && extra > 0)) {
      if (p >= nPasses) extra -= 1
      val traced = trace && p >= 0 && (p % 4 == 1 || p % 4 == 2)
      tracer.filter(_ => traced).foreach(_.attach())
      val s0 = stealTicks()
      val c0 = cpu.getProcessCpuTime
      val w0 = System.nanoTime()
      val rs = runner.pass(p, traced)
      val wall = (System.nanoTime() - w0) / 1e9
      val cpuS = (cpu.getProcessCpuTime - c0) / 1e9
      val s1 = stealTicks()
      val steal = (s1._1 - s0._1).toDouble / math.max(1L, s1._2 - s0._2)
      tracer.filter(_ => traced).foreach(_.detach(rs))
      if (p >= 0 && steal <= maxSteal) quiet += 1
      runs ++= rs
      passes += Map("pass" -> p, "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> cpuS, "steal" -> steal)
      p += 1
    }
    val peakHeapMb = heap.stop()
    // Output check input: each benched query's result once, outside the
    // timed window, in the layout graft.Verify dumps for tools/check.py.
    val dumpErrors = mutable.LinkedHashMap.empty[String, String]
    names.sorted.foreach { n =>
      try catalog(n)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/results/$n")
      catch { case e: Throwable => dumpErrors(n) = Runner.cause(e) }
    }
    Files.createDirectories(Paths.get(s"$out/results"))
    Json.write(s"$out/results/oracle_sql.json",
      graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    val result = mutable.LinkedHashMap[String, Any](
      "session_us" -> sessionUs,
      "warm_end_us" -> warmEndUs,
      "passes" -> passes.toSeq,
      "queries" -> runs.toSeq.map { r => Map(
        "name" -> r.name, "pass" -> r.pass, "traced" -> r.traced,
        "latency_ms" -> r.latencyMs,
        "build_ms" -> (r.buildUs - r.startUs) / 1000.0,
        "plan_ms" -> (r.planUs - r.buildUs) / 1000.0,
        "force_ms" -> (r.endUs - r.planUs) / 1000.0,
        "error" -> r.error.getOrElse("")) },
      "dump_errors" -> dumpErrors.toMap,
      "peak_live_heap_mb" -> peakHeapMb)
    tracer.foreach { t =>
      result("layers") = t.layers(passes.toSeq.filter(_("pass") match {
        case i: Int => i >= 0
        case _ => false
      }))
      t.writeSpans(s"$out/spans.jsonl")
    }
    Json.write(s"$out/result.json", result.toMap)
    spark.stop()
  }

  /** (stolen, total) CPU ticks of all CPUs since boot, from
    * `/proc/stat`; (0, 0) where there is none. */
  def stealTicks(): (Long, Long) = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val t = try src.getLines().next().split("\\s+").slice(1, 9).map(_.toLong)
            finally src.close()
    (t(7), t.sum)
  }.getOrElse((0L, 0L))

  def nowUs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e6 + i.getNano / 1e3
  }

  /** Peak old-generation occupancy right after a collection, from the
    * JVM's GC notifications, between construction and [[stop]]. */
  final class OldGenPeak extends NotificationListener {
    @volatile private var peak = 0L
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    beans.foreach(_.addNotificationListener(this, null, null))

    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach {
          case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") =>
            synchronized { peak = math.max(peak, u.getUsed) }
          case _ =>
        }
      }

    def stop(): Double = {
      beans.foreach(b => scala.util.Try(b.removeNotificationListener(this)))
      peak / 1048576.0
    }
  }
}

/** Runs passes over the workload's queries in a seeded order. */
final class Runner(spark: SparkSession, catalog: Map[String, Main.Q],
    names: Seq[String], data: String, seed: Long, tracer: Option[Trace]) {
  import Main.{nowUs, QueryRun}
  private val sc = spark.sparkContext

  // A query runs faster right after itself and slower or faster after
  // some others, so a free shuffle per pass lets the seed move the
  // figures. Instead the seed labels the queries 0..n-1 and orders the
  // steps m coprime to n; timed pass k runs 0, m, 2m, ... (mod n) with
  // its step, and its last query leads into the next pass's query 0 by
  // the same step. For a prime n every n - 1 consecutive passes then
  // hold each ordered pair of distinct queries once, whatever the seed,
  // and no query ever follows itself. The warm and settle passes
  // (numbered below 0) run the same scheme over the sorted names, one
  // order whatever the seed, so the JIT profiles the engine's code the
  // same way in every run.
  private val n = names.size
  private val coprime = (1 until n).filter(m => BigInt(m).gcd(n) == 1)
    .toIndexedSeq match {
    case Seq() => IndexedSeq(1)
    case s => s
  }
  private val fixed = names.sorted.toIndexedSeq
  private val rnd = new scala.util.Random(seed)
  private val steps = rnd.shuffle(coprime)
  private val label = {
    // Timed pass 0 must not open with the query that ended pass -1.
    val l = rnd.shuffle(fixed)
    if (n > 1 && l(0) == fixed(n - coprime.last)) l.tail :+ l.head else l
  }

  def order(pass: Int): Seq[String] = {
    val (lab, st) = if (pass < 0) (fixed, coprime) else (label, steps)
    val m = st(Math.floorMod(pass, st.size))
    (0 until n).map(j => lab(j * m % n))
  }

  def pass(p: Int, traced: Boolean): Seq[QueryRun] = order(p).map { n =>
    if (traced) {
      sc.setLocalProperty(Trace.QidKey, s"$p/$n")
      sc.setLocalProperty(Trace.PhaseKey, "build")
    }
    val s = nowUs()
    var b, pl = s
    val err = try {
      val df = catalog(n)(spark, data)
      b = nowUs()
      if (traced) sc.setLocalProperty(Trace.PhaseKey, "plan")
      df.queryExecution.executedPlan
      pl = nowUs()
      if (traced) {
        tracer.foreach(_.planPhases(df))
        sc.setLocalProperty(Trace.PhaseKey, "force")
      }
      graft.Bench.force(df)
      None
    } catch { case e: Throwable => Some(Runner.cause(e)) }
    val e = nowUs()
    if (traced) {
      sc.setLocalProperty(Trace.QidKey, null)
      sc.setLocalProperty(Trace.PhaseKey, null)
    }
    QueryRun(n, p, traced, s, math.max(b, s), math.max(pl, b), e, err)
  }
}

object Runner {
  def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(root.getMessage).getOrElse("").linesIterator
      .nextOption().getOrElse("")
    s"${root.getClass.getSimpleName}: ${msg.take(300)}"
  }
}
