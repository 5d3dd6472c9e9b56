package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.ml.{CorpusPipelines, ReferencePipelines}

/** One benchmark run: set up, one cold pass over the workload's calls in
  * name order, then `warm-passes` passes in seed-shuffled order. The load is a closed loop with one client: each call is
  * issued after the previous one returns, as a batch pipeline calls this
  * library. Every call times its whole output (see [[Checksum]]).
  *
  * Raw per-call records go to `--out` as JSON; `perfbench/run.py` checks
  * them and turns them into metrics. With `--trace 1` the run registers a
  * [[Counters]] listener on alternate warm passes, splits every call into
  * construct / plan / action, and keeps spans in memory until the end.
  *
  * Usage: Main --workload W --seed N --warm-passes K --trace 0|1 --data DIR
  *             --work DIR --out FILE --members a,b,c [--deadline S]
  */
object Main {

  final case class Opts(
      workload: String, seed: Long, warmPasses: Int, trace: Boolean, data: String,
      work: String, out: String, members: Seq[String], deadline: Double)

  /** A step of set-up that failed; the run aborts with the step named. */
  final class SetupFailure(val step: String, cause: Throwable)
    extends RuntimeException(s"set-up step '$step' failed: $cause", cause)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("warm-passes").toInt, kv("trace") == "1",
      kv("data"), kv("work"), kv("out"), kv("members").split(',').toSeq.filter(_.nonEmpty),
      kv.getOrElse("deadline", "140").toDouble)
    val code =
      try { new Run(o, t0).execute(); 0 }
      catch {
        case e: SetupFailure =>
          System.err.println(s"[perfbench] ${e.getMessage}")
          e.printStackTrace()
          3
      }
    System.exit(code)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** What a call hands back: the frames whose whole output is the call's
    * result, and a check over their digests (None when it passes).
    */
  final case class Outcome(outputs: Seq[DataFrame], check: Seq[Digest] => Option[String])

  final case class Call(name: String, ml: Boolean, run: () => Outcome)

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  private[perfbench] class Run(o: Opts, t0: Long) {
    private val cores = Runtime.getRuntime.availableProcessors()
    private val spans = ArrayBuffer.empty[Span]
    private var nextSpan = 0
    private def span[A](parent: Int, name: String)(body: Int => A): A = {
      val id = { nextSpan += 1; nextSpan }
      val s = System.nanoTime()
      try body(id)
      finally if (o.trace) spans += Span(id, parent, name, s - t0, System.nanoTime() - t0)
    }
    private def secs(a: Long, b: Long): Double = (b - a) / 1e9
    private def elapsed: Double = secs(t0, System.nanoTime())

    private var spark: SparkSession = _
    private val counters = new Counters
    private val log = new LogCapture
    private val setup = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    private def step[A](name: String)(body: => A): A =
      try body
      catch { case e: Throwable => throw new SetupFailure(name, e) }

    def execute(): Unit = {
      val runSpan = 0
      val calls = span(runSpan, "setup") { sid =>
        val ts = System.nanoTime()
        span(sid, "session") { _ => step("session")(startSession()) }
        val t1 = System.nanoTime()
        span(sid, "jit") { _ => step("jit")(Warmup.run(spark, o.data)) }
        val t2 = System.nanoTime()
        val calls = span(sid, "inputs") { _ => step("inputs")(buildCalls()) }
        setup ++= Seq("setup.session_s" -> secs(ts, t1), "setup.jit_s" -> secs(t1, t2),
          "setup.inputs_s" -> secs(t2, System.nanoTime()))
        calls
      }
      setup("setup_s") = elapsed // main entry to the first timed call

      val records = ArrayBuffer.empty[Map[String, Any]]
      val passes = ArrayBuffer.empty[Map[String, Any]]
      var stopped = false
      def pass(index: Int, order: Seq[Call], traced: Boolean): Unit = {
        if (traced) spark.sparkContext.addSparkListener(counters)
        val start = System.nanoTime()
        val recs = span(runSpan, s"pass:$index") { pid =>
          order.iterator.takeWhile(_ => !stopped).map { c =>
            if (elapsed > o.deadline) { stopped = true; Map.empty[String, Any] }
            else {
              val r = timeCall(c, index, traced, pid)
              if (r.contains("timeout")) stopped = true
              r
            }
          }.filter(_.nonEmpty).toVector
        }
        val wall = secs(start, System.nanoTime())
        if (traced) spark.sparkContext.removeSparkListener(counters)
        records ++= recs
        val callSum = recs.flatMap(_.get("call_s")).map(_.asInstanceOf[Double]).sum
        passes += Map("pass" -> index, "traced" -> traced, "complete" -> (recs.size == order.size),
          "pass_s" -> callSum, "wall_s" -> wall, "harness.cleanup_s" -> (wall - callSum))
      }
      pass(0, calls.sortBy(_.name), o.trace)
      // Traced and untraced warm passes alternate.
      for (p <- 1 to o.warmPasses if !stopped)
        pass(p, new Random(o.seed * 1000003L + p).shuffle(calls), o.trace && p % 2 == 1)

      val cachedMb =
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      // Dropped broadcasts and shuffles are freed by Spark's ContextCleaner
      // after a GC finds them; the pause lets it run before the final GC.
      System.gc(); Thread.sleep(500); System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      spark.stop()
      if (o.trace) spans += Span(0, -1, "run", 0, System.nanoTime() - t0)
      val out = Map(
        "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores, "trace" -> o.trace,
        "warm_passes" -> o.warmPasses, "setup" -> setup, "passes" -> passes, "calls" -> records,
        "heap_mb_end" -> heapMb, "bases.cached_mb" -> cachedMb, "stopped_early" -> stopped, "log" -> log.summary,
        "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9)))
      Files.createDirectories(Paths.get(o.out).toAbsolutePath.getParent)
      json.writeValue(Paths.get(o.out).toFile, out)
    }

    /** Same session as graft.Bench: local[nproc], one shuffle partition per
      * core, UTC, no UI. Scratch space stays in the work directory.
      */
    private def startSession(): Unit = {
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.local.dir", s"${o.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      log.install()
    }

    /** The workload's calls; for ml_fit this generates the seeded CSVs. */
    private def buildCalls(): Seq[Call] = o.workload match {
      case "ml_fit" =>
        val in = MlInputs.generate(Paths.get(o.work, "inputs", s"seed${o.seed}"), o.seed)
        val defined = mlCalls(in).map(c => c.name -> c).toMap
        o.members.map(n => defined.getOrElse(n, throw new NoSuchElementException(s"no ML call $n")))
      case _ =>
        val registry = graft.SparkEntry.queries
        o.members.map { n =>
          val fn = registry.getOrElse(n, throw new NoSuchElementException(s"no query $n"))
          Call(n, ml = false, () => Outcome(Seq(fn(spark, o.data)), _ => None))
        }
    }

    private def need(ok: Boolean, what: => String): Option[String] = if (ok) None else Some(what)

    private def mlCalls(in: MlInputs): Seq[Call] = {
      def docs = graft.Tables.load(spark, o.data, "documents")
      Seq(
        Call("ml.knowledge_rf", ml = true, () => {
          val r = ReferencePipelines.knowledgeRf(spark, in.knowledge)
          Outcome(Seq(r.labelHistogram, r.confusion), d =>
            need(d(0).rows == 4, s"labels ${d(0).rows} != 4")
              .orElse(need(r.f1 > 0.6, s"f1 ${r.f1}")))
        }),
        Call("ml.spam", ml = true, () => {
          val r = ReferencePipelines.spam(spark, in.spam)
          Outcome(Seq(r.predictionsRf), d =>
            need(d(0).rows > 1000, s"predictions ${d(0).rows}")
              .orElse(need(r.accuracyRf > 0.8 && r.accuracyDt > 0.8,
                s"accuracy rf ${r.accuracyRf} dt ${r.accuracyDt}")))
        }),
        Call("ml.count_vectorize", ml = true, () => {
          val (m, tf) = CorpusPipelines.countVectorize(docs, vocabSize = 1 << 16)
          Outcome(Seq(tf), _ => need(m.vocabulary.length > 10, s"vocabulary ${m.vocabulary.length}"))
        }),
        Call("ml.word2vec", ml = true, () => {
          val (m, emb) = CorpusPipelines.word2vec(docs, dim = 16)
          Outcome(Seq(emb), _ => need(m.getVectorSize == 16, s"vector size ${m.getVectorSize}"))
        }))
    }

    private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "perfbench-call"); t.setDaemon(true); t
    }
    private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    private val callTimeout = 60.seconds

    /** Times one call: construct (the library call), plan (forcing each
      * output's executed plan) and action (digesting each output). A call
      * that throws or outlives `callTimeout` is recorded with its exception
      * class; after a timeout every Spark job is cancelled.
      */
    private def timeCall(c: Call, index: Int, traced: Boolean, parent: Int): Map[String, Any] = {
      val sc = spark.sparkContext
      val marks = new Array[Long](4)
      val wall = new Array[Long](4)
      var phases = Map.empty[String, Double]
      var cachedReads = 0
      val work = Future {
        val (out, digests) = span(parent, s"call:${c.name}") { cid =>
          def mark(i: Int): Unit = { marks(i) = System.nanoTime(); wall(i) = System.currentTimeMillis() }
          mark(0)
          val out = span(cid, "construct")(_ => c.run())
          mark(1)
          span(cid, "plan") { _ => out.outputs.foreach(_.queryExecution.executedPlan) }
          mark(2)
          val digests = span(cid, "action")(_ => out.outputs.map(Checksum.of))
          mark(3)
          (out, digests)
        }
        phases = out.outputs.flatMap(_.queryExecution.tracker.phases).groupMapReduce(_._1)(p =>
          (p._2.endTimeMs - p._2.startTimeMs) / 1e3)(_ + _)
        cachedReads = out.outputs.map(_.queryExecution.withCachedData.collect {
          case r: InMemoryRelation => r }.size).sum
        (digests, out.check(digests))
      }
      val base = Map[String, Any]("workload" -> o.workload, "pass" -> index, "call" -> c.name,
        "ml" -> c.ml, "traced" -> traced)
      val res: Map[String, Any] =
        try {
          val (digests, check) = Await.result(work, callTimeout)
          val total = digests.reduce(_ + _)
          base ++ Map(
            "queries.construct_s" -> secs(marks(0), marks(1)),
            "plans.plan_s" -> secs(marks(1), marks(2)),
            "spark.action_s" -> secs(marks(2), marks(3)),
            "call_s" -> secs(marks(0), marks(3)),
            "rows" -> total.rows, "checksum" -> total.hex,
            "check" -> check.orNull, "error" -> null) ++
            (if (traced) tracedFields(wall, phases) + ("queries.cached_reads" -> cachedReads)
             else Map.empty)
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            sc.cancelAllJobs()
            try Await.ready(work, 30.seconds) catch { case _: Throwable => () }
            base ++ Map("error" -> "TimeoutException", "timeout" -> true)
          case e: Throwable =>
            base ++ Map("error" -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
      graft.Bench.cleanupTransients(spark) // outside every timer, as in graft.Bench
      sinceGc += 1
      if (sinceGc >= 50) { sinceGc = 0; System.gc() }
      res
    }
    private var sinceGc = 0

    private def tracedFields(wall: Array[Long], phases: Map[String, Double]): Map[String, Any] = {
      val sc = spark.sparkContext
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      val byPhase = counters.takeJobs().groupMapReduce { case (time, _) =>
        if (time < wall(1)) "construct" else if (time < wall(2)) "plan" else "action"
      }(_._2)(_ + _)
      val total = byPhase.values.foldLeft(Snapshot())(_ + _)
      val persistent = sc.getPersistentRDDs
      val ckpt = persistent.values.filter(Checkpoints.isLocal).map(_.id).toSet
      val ckptBytes = sc.getRDDStorageInfo.filter(i => ckpt.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      val construct = byPhase.getOrElse("construct", Snapshot())
      total.toMap ++ Map(
        "queries.construct_jobs" -> (construct.jobs - construct.schemaJobs),
        "queries.schema_jobs" -> construct.schemaJobs,
        "queries.ckpt_rdds" -> ckpt.size,
        "queries.ckpt_mb" -> ckptBytes / 1e6,
        "plans.analysis_s" -> phases.getOrElse("analysis", 0.0),
        "plans.optimization_s" -> phases.getOrElse("optimization", 0.0),
        "plans.planning_s" -> phases.getOrElse("planning", 0.0),
        "phases" -> byPhase.map { case (k, v) => k -> v.toMap })
    }
  }
}
