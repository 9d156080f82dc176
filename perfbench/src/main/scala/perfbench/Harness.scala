package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}

/** Closed-loop benchmark harness: one process, one client, each query
  * submitted after the previous one returns.
  *
  * It drives the engine only through its public entry points —
  * `GraftSession.local`, the `SparkEntry.queries` build call and an
  * action on the returned DataFrame — and writes one JSON result file.
  * Arguments are `key=value` pairs (see perfbench/run.py). After set-up
  * (session started, corpus opened) it runs a first pass in the fresh
  * JVM, which writes each result as parquet for the DuckDB compare; then
  * `warmup` untimed passes, and `passes` timed passes. With `trace=1`
  * each timed pass is followed by a pass under [[Tracer]]'s listeners.
  *
  * Before each query and after the last one of a pass, outside every
  * timed region, it times [[Probe]]. The median probe time of the timed
  * passes says how fast the shared host ran during them.
  *
  * The timed passes' action is the `noop` sink, which computes every row
  * and column: `count()` lets Catalyst prune projections and sorts out of
  * the plan being timed.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val corpus = opt("corpus")
    val sessionT0 = System.nanoTime()
    val spark = GraftSession.local(opt("nproc").toInt, appName = "perfbench")
    val sessionStartS = (System.nanoTime() - sessionT0) / 1e9
    Tables.names.foreach(Tables(spark, corpus, _).schema)
    val now = java.time.Instant.now()
    val setupS = (now.getEpochSecond * 1000000000L + now.getNano - opt("spawned_ns").toLong) / 1e9
    val result = Map("setup_s" -> setupS, "session_start_s" -> sessionStartS) ++
      new Run(spark, corpus, opt).result()
    Files.writeString(Paths.get(opt("result")), json(result))
    spark.stop()
  }

  /** High-water mark of the old generation's usage after a collection,
    * over the collections that end while `recording` is set: each GC
    * notification, young or old, reports every pool's usage after it.
    * [[sample]] also reads the pool's last after-collection usage, so a
    * pass without a collection still counts. */
  private object OldGenPeak extends NotificationListener {
    @volatile var recording = false
    @volatile private var peak = 0L
    private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")
    private val pool = ManagementFactory.getMemoryPoolMXBeans.asScala.find(p => isOld(p.getName))
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }

    private def record(used: Long): Unit = synchronized { if (recording) peak = math.max(peak, used) }

    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (name, usage) =>
          if (isOld(name)) record(usage.getUsed)
        }
      }

    def sample(): Unit = pool.flatMap(p => Option(p.getCollectionUsage)).foreach(u => record(u.getUsed))

    def peakMb: Double = peak / 1048576.0
  }

  /** A fixed single-threaded CPU kernel that runs no engine code: sort
    * the same 2^16 longs, drawn from a fixed seed, five times, and take
    * the median time. Its array is allocated once, so it makes no
    * garbage. Taken while the engine is idle, its time tracks how fast
    * the shared host runs a thread at that moment. */
  object Probe {
    private val size = 1 << 16
    private val buf = new Array[Long](size)
    @volatile private var sink = 0L

    private def once(): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < size) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; buf(i) = x; i += 1 }
      val t0 = System.nanoTime()
      java.util.Arrays.sort(buf)
      val t = System.nanoTime() - t0
      sink += buf(size / 2)
      t
    }

    def run(): Double = Seq.fill(5)(once()).sorted.apply(2) / 1e9
  }

  private def json(value: Any): String =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(value)

  /** One timed execution: the build call and the action, in seconds. */
  final case class Exec(query: String, buildS: Double, actionS: Double,
      startMs: Double, buildEndMs: Double, endMs: Double) {
    def latencyS: Double = buildS + actionS
  }

  private final class Run(spark: SparkSession, corpus: String, opt: Map[String, String]) {
    private val sc = spark.sparkContext
    private val names = opt("queries").split(',').toSeq
    private val builds = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"no registry query named $n")))
    private val seed = opt("seed").toLong
    private var attempted = 0
    private var failed = 0
    private val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    private var tracer: Option[Tracer] = None
    // Probe times of the pass in flight.
    private val probes = scala.collection.mutable.ArrayBuffer[Double]()

    private def epochMs(): Double = System.currentTimeMillis().toDouble

    /** The between-query sweep, outside every timed region: drop SQL
      * caches and every persisted or locally checkpointed RDD, so a query
      * never runs on a previous one's blocks. */
    private def sweep(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    private def fail(key: String, e: Throwable): Unit = {
      failed += 1
      failures.getOrElseUpdate(key,
        Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse("").take(200))
    }

    /** The first pass's action: each result as parquet for the DuckDB
      * compare, written as `graft.Verify` writes it. */
    private def dump(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"${opt("gate_out")}/$name")

    /** The steady passes' action: the `noop` sink computes every row and
      * column without writing them. */
    private def noop(name: String, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    private def execute(name: String, build: (SparkSession, String) => DataFrame,
        passId: String, action: (String, DataFrame) => Unit): Option[Exec] = {
      attempted += 1
      sc.setJobGroup(name, s"perfbench $name")
      sc.setLocalProperty(Tracer.PhaseProperty, "build")
      val startMs = epochMs()
      val t0 = System.nanoTime()
      val exec = try {
        val df = build(spark, corpus)
        val t1 = System.nanoTime()
        val buildEndMs = epochMs()
        sc.setLocalProperty(Tracer.PhaseProperty, "action")
        action(name, df)
        val t2 = System.nanoTime()
        System.err.println(f"[perfbench] $passId $name build ${(t1 - t0) / 1e9}%.3f action ${(t2 - t1) / 1e9}%.3f")
        Some(Exec(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, startMs, buildEndMs, epochMs()))
      } catch { case NonFatal(e) => fail(s"$passId $name", e); None }
      finally {
        sc.setLocalProperty(Tracer.PhaseProperty, null)
        sc.clearJobGroup()
      }
      tracer.foreach(_.queryDone(name, exec, passId))
      OldGenPeak.sample()
      sweep()
      exec
    }

    /** One pass over the workload, in an order drawn from the seed. */
    private def pass(index: Int): Seq[Exec] = {
      val startMs = epochMs()
      val action = if (index == 0) dump _ else noop _
      probes.clear()
      probes += Probe.run()
      val execs = new Random(seed * 1000003L + index).shuffle(builds).flatMap { case (n, b) =>
        try execute(n, b, s"pass$index", action) finally probes += Probe.run()
      }
      tracer.foreach(_.passDone(s"pass$index", startMs, epochMs()))
      execs
    }

    private def wall(execs: Seq[Exec]): Double = execs.map(_.latencyS).sum

    private def byQuery(passes: Seq[Seq[Exec]]): Map[String, Seq[Double]] =
      passes.flatten.groupBy(_.query).view.mapValues(_.map(_.latencyS)).toMap

    def result(): Map[String, Any] = {
      var index = 0
      def next(): Seq[Exec] = { index += 1; pass(index) }

      val firstPassS = wall(pass(0))
      val warmPassS = Seq.fill(opt("warmup").toInt)(wall(next()))
      Files.writeString(Paths.get(s"${opt("gate_out")}/oracle_sql.json"), json(
        SparkEntry.oracleSql.view.filterKeys(names.contains).toMap))

      // With trace=1 each timed pass is followed by a traced one, so the
      // tracing overhead is not confounded with the JVM still warming up.
      val t = if (opt("trace") == "1") Some(new Tracer(spark)) else None
      def tracedPass(tr: Tracer): Seq[Exec] = {
        tr.attach()
        tracer = Some(tr)
        try next() finally { tracer = None; tr.detach() }
      }
      // Each timed pass starts from the live set, so its old-generation
      // peak does not depend on how much garbage earlier passes promoted.
      val timedProbes = scala.collection.mutable.ArrayBuffer[Double]()
      def timedPass(): Seq[Exec] = {
        System.gc()
        OldGenPeak.recording = true
        try next() finally { OldGenPeak.recording = false; timedProbes ++= probes }
      }
      val (steady, traced) = Seq.fill(opt("passes").toInt)((timedPass(), t.map(tracedPass))).unzip
      val layers = t.fold(Map.empty[String, Any]) { tr =>
        Files.writeString(Paths.get(opt("spans")), json(tr.spans))
        Map("layers" -> tr.layers(traced.flatten), "traced_latency_s" -> byQuery(traced.flatten))
      }
      Map(
        "first_pass_s" -> firstPassS,
        "warm_pass_s" -> warmPassS,
        "probe_s" -> timedProbes.toSeq,
        "pass_wall_s" -> steady.map(wall),
        "query_latency_s" -> byQuery(steady),
        "peak_heap_mb" -> OldGenPeak.peakMb,
        "attempted" -> attempted,
        "failed" -> failed,
        "failures" -> failures.toMap,
      ) ++ layers
    }
  }
}
