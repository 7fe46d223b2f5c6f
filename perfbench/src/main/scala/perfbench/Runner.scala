package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.EngineSession
import graft.core.{JobSpec, MapReduceJob, TaskRegistry}
import graft.sources.{Bucketing, Tables}
import graft.tasks.WordCount

/** One benchmark run in one JVM, driven by run.py:
  *
  * {{{
  * perfbench.Runner <workload> <input> <seed> <reps> <setups> <trace 0|1> <out.json> [verify-dir n]
  * }}}
  *
  * `input` is the word-count INI spec, or `reps` comma-separated copies of
  * the gate corpus. A gate run times `reps` passes over the gate query set
  * in seed order ([[Workloads.order]]), pass `p` on copy `p`: the engine
  * caches per-corpus structures by directory, so every pass builds them
  * again while the JVM and codegen caches stay warm. A word-count run times
  * `reps` jobs.
  *
  * The run sets the session up `setups` times (only the last session is
  * kept), then times each operation in a closed loop with one client, and
  * writes its measurements to `out.json`. With trace 1 it also registers
  * the listeners and writes the span tree and per-layer metrics into the
  * same file. Given a verify dir, the first `n` queries of the run's order
  * are run again after the timed part and their results written there for
  * the oracle comparison.
  */
object Runner {
  private val Mb = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(workload, input, seed, reps, setupsArg, traceArg, outPath) = args.take(7)
    val verify = args.lift(7).map(_ -> args(8).toInt)
    val gate = workload == "gate"
    val dirs = input.split(',').toVector
    val order = Workloads.order(seed.toLong)
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val tracer = new Tracer(s"$workload-${ProcessHandle.current().pid()}-${System.currentTimeMillis()}")
    val traced = traceArg == "1"
    val runId = tracer.newId()
    val runStart = tracer.nowUs

    // Set-up: session, warm-up and one-time layouts, repeated so the run
    // can report a median. Only the last session stays open.
    val setups = (1 to setupsArg.toInt).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val spark = EngineSession.local(cpus)
      val t1 = System.nanoTime()
      warmUp(spark, workload, dirs.head)
      val t2 = System.nanoTime()
      if (gate) dirs.foreach(Bucketing.ensureGateTables(spark, _))
      val t3 = System.nanoTime()
      (spark, Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "gate_tables_s" -> (t3 - t2) / 1e9, "setup_s" -> (t3 - t0) / 1e9))
    }
    val spark = setups.last._1
    val collector = new Collector
    if (traced) Collector.register(spark, collector)

    val gcBefore = gcMillis
    val timedId = tracer.newId()
    val timedStart = tracer.nowUs
    val ops = if (gate) dirs.zipWithIndex.flatMap { case (dir, p) =>
        runQueries(spark, tracer, timedId, dir, order, p, traced) }
      else runJobs(spark, tracer, timedId, input, reps.toInt, traced)
    val timedEnd = tracer.nowUs
    val gcS = (gcMillis - gcBefore) / 1e3
    tracer.add(Span(timedId, runId, "timed", timedStart, timedEnd))

    var engine = Seq.empty[Span]
    val layer = if (!traced) Map.empty[String, Double] else {
      val warmIds = if (gate) resolveProbe(spark, tracer, runId, dirs.head) else Set.empty[Long]
      collector.drain(spark)
      engine = Layers.engineSpans(tracer, collector, tracer.all)
      val all = tracer.all ++ engine
      val resolve = Map(
        "sources.resolve_s" -> all.filter(s => warmIds(s.id)).map(_.durUs).sum / 1e6,
        "sources.read_jobs" -> collector.synchronized(
          collector.jobs.values.count(j => warmIds(j.parent))).toDouble)
      val core = if (gate) Layers.coreNames.map(_ -> 0.0).toMap else {
        val runs = all.filter(s => s.parent == timedId && s.name == "job-run")
        val bytes = inputBytes(input)
        val per = runs.map(s => Layers.core(collector, s, bytes))
        Layers.coreNames.map(k => k -> per.map(_(k)).sum / math.max(1, per.size)).toMap
      }
      Layers.metrics(collector, all, timedId, gcS) ++ resolve ++ core
    }

    val heapMb = retainedHeapMb()
    // Untimed output check: each gate query's result as one parquet file per
    // query, in the layout the oracle script reads.
    verify.filter(_ => gate).foreach { case (out, n) => dumpResults(spark, dirs.head, order.take(n), out) }
    if (traced) Collector.unregister(spark, collector)
    tracer.add(Span(runId, 0L, "run", runStart, tracer.nowUs))
    val spanOut = if (traced) tracer.all ++ engine else Nil
    val json = Json.obj(
      "workload" -> Json.str(workload),
      "run_id" -> Json.str(tracer.runId),
      "setups" -> Json.arr(setups.map(s => Json.num(s._2))),
      "ops" -> Json.arr(ops.map(o => Json.obj(
        "name" -> Json.str(o.name), "pass" -> o.pass.toString,
        "construct_s" -> Json.num(o.constructS),
        "action_s" -> Json.num(o.actionS), "ok" -> o.ok.toString,
        "error" -> Json.str(o.error)))),
      "retained_heap_mb" -> Json.num(heapMb),
      "layers" -> Json.num(layer),
      "spans" -> Json.arr(spanOut.map(s => Json.obj(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString,
        "attrs" -> Json.num(s.attrs)))))
    Files.writeString(Paths.get(outPath), json)
    spark.stop()
  }

  final case class Op(name: String, pass: Int, constructS: Double, actionS: Double, ok: Boolean,
      error: String)

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after full collections, with the session still open. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach(_ => System.gc())
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mb
  }

  /** The gate's warm-up, the same plan graft.Bench runs before timing: a
    * range aggregate, a window and a sort-merge full outer join over one
    * table read, so the first timed query does not pay the session's first
    * codegen and JIT. The word-count run warms up on a small job instead.
    */
  private def warmUp(spark: SparkSession, workload: String, input: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    if (workload == "mr-wordcount") {
      TaskRegistry.register(UserId, WordCount)
      val spec = JobSpec.fromConfig(input)
      MapReduceJob.run(spark, spec.copy(inputFiles = Seq(warmupFile(input)),
        outputDir = spec.outputDir + "_warmup"))
    } else {
      val c = Tables.t(spark, input, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val ranked = c.withColumn("rk", row_number().over(
        Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))))
      noop(ranked.join(c.groupBy("c_nationkey").agg(avg("c_acctbal").as("nation_avg")),
        Seq("c_nationkey"), "full_outer"))
    }
  }

  val UserId = "cs6210"

  /** run.py writes the warm-up job's input next to the INI spec. */
  private def warmupFile(spec: String): String =
    Paths.get(spec).resolveSibling("warmup.txt").toString

  private def inputBytes(spec: String): Long =
    JobSpec.fromConfig(spec).inputFiles.map(f => Files.size(Paths.get(f))).sum

  private def runQueries(spark: SparkSession, t: Tracer, parent: Long, dir: String,
      order: Seq[String], pass: Int, traced: Boolean): Seq[Op] =
    order.map { name =>
      val q = Workloads.query(name)
      var c0, c1, c2 = 0L
      def body(qid: Long): Unit = {
        c0 = System.nanoTime()
        val df = if (traced) t.span(spark, qid, "construct")(_ => q(spark, dir)) else q(spark, dir)
        c1 = System.nanoTime()
        if (traced) t.span(spark, qid, "action")(_ => noop(df)) else noop(df)
        c2 = System.nanoTime()
      }
      try {
        if (traced) t.span(spark, parent, s"query $name")(body) else body(0L)
        Op(name, pass, (c1 - c0) / 1e9, (c2 - c1) / 1e9, ok = true, "")
      } catch {
        case e: Throwable =>
          Op(name, pass, (c1 - c0) / 1e9, (System.nanoTime() - c0) / 1e9, ok = false,
            s"${e.getClass.getName}: ${e.getMessage}".take(300))
      }
    }

  /** `n` word-count jobs; job `k` writes to `<output_dir>_k`. */
  private def runJobs(spark: SparkSession, t: Tracer, parent: Long, specPath: String,
      n: Int, traced: Boolean): Seq[Op] = {
    val spec = JobSpec.fromConfig(specPath)
    (0 until n).map { k =>
      val job = spec.copy(outputDir = s"${spec.outputDir}_$k")
      val t0 = System.nanoTime()
      try {
        if (traced) t.span(spark, parent, "job-run")(_ => MapReduceJob.run(spark, job))
        else MapReduceJob.run(spark, job)
        Op("job", k, 0.0, (System.nanoTime() - t0) / 1e9, ok = true, "")
      } catch {
        case e: Throwable =>
          Op("job", k, 0.0, (System.nanoTime() - t0) / 1e9, ok = false,
            s"${e.getClass.getName}: ${e.getMessage}".take(300))
      }
    }
  }

  /** Direct calls to `Tables.t`, twice per table; returns the ids of the
    * second (warm) calls' spans, which is what each further table reference
    * in a query pays.
    */
  private def resolveProbe(spark: SparkSession, t: Tracer, parent: Long,
      dir: String): Set[Long] = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    t.span(spark, parent, "resolve-probe") { probe =>
      tables.map { name =>
        t.span(spark, probe, s"resolve cold $name")(_ => Tables.t(spark, dir, name))
        t.span(spark, probe, s"resolve warm $name") { id => Tables.t(spark, dir, name); id }
      }.toSet
    }
  }

  private def dumpResults(spark: SparkSession, dir: String, names: Seq[String], out: String): Unit = {
    names.foreach { name =>
      try Workloads.query(name)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$name")
      catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: ${e.getMessage}") }
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      oracles.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$out/queries.json"), names.map(Json.str).mkString("[", ",", "]"))
  }
}

/** Just enough JSON writing for the run's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
