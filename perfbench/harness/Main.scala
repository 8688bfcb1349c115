package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named operation of a workload: `run` is the query body. */
final case class Op(name: String, run: Ctx => DataFrame)

/** What a workload's set-up leaves for its ops: the session, the generated
  * inputs and a scratch root for anything the ops write. */
final case class Ctx(spark: SparkSession, dir: Path, seed: Long) {
  def data: String = dir.resolve("data").toString
}

trait Workload {
  def ops: Seq[Op]
  /** Nominal length of one timed pass on a 4-core host, in seconds: a run
    * measures `seconds / passSeconds` passes. */
  def passSeconds: Double
  /** Untimed passes after the checked warm pass, so the JIT has compiled
    * the ops' hot code before timing starts. */
  def warmPasses: Int = 0
  /** Generate inputs under `ctx.dir` and build untimed fixtures. */
  def setup(ctx: Ctx): Unit
  /** DuckDB views (name -> parquet glob) over the generated inputs. */
  def views(ctx: Ctx): Map[String, String]
  /** Per op, SQL over the views whose result the op's output must equal. */
  def oracle: Map[String, String]
  /** Per op, SQL over the views and the op's output (view `out`) that
    * lists violations; the op passes when it returns no rows. */
  def violations: Map[String, String] = Map.empty
}

/** The benchmark's JVM side: sets up a workload three times, runs timed
  * passes over its ops, and writes the raw timings (and, when tracing, the
  * listener events and file walks) as JSON. Statistics are computed from
  * that file by `perfbench/run.py`, which also launches this.
  *
  * {{{ Main --workload lakehouse --seed 1 --seconds 18 --trace 0 --out raw.json --work dir }}}
  */
object Main {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same clock
    * as Spark's listener event times. */
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val wl = Workloads(arg("workload"))
    val ops = wl.ops
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // Set-up: start a session and generate the inputs, three times (each
    // round stops the previous session and writes a fresh directory; the
    // first also carries the JVM launch), then one untimed warm pass over
    // every op, which builds the ops' fixtures and whose output is checked,
    // then the workload's untimed warm-up passes, and a wait for the JIT
    // compiles they queued.
    var spark: SparkSession = null
    var ctx: Ctx = null
    val rounds = (1 to 3).map { k =>
      if (spark != null) { spark.stop(); Session.deleteTree(ctx.dir) }
      val t0 = if (k == 1) launchMs else nowMs()
      spark = Session.build(cpus, work.resolve("warehouse"))
      ctx = Ctx(spark, work.resolve(s"setup$k"), seed)
      wl.setup(ctx)
      (nowMs() - t0) / 1000
    }
    val w0 = nowMs()
    val warm = ops.map(op => op.name -> attempt(op, ctx, work.resolve("out")))
    for (_ <- 0 until wl.warmPasses; op <- ops) timed(op, ctx, Nil)
    val j0 = nowMs()
    Session.awaitJit()
    val jitWaitS = (nowMs() - j0) / 1000
    val warmS = (nowMs() - w0) / 1000

    // Timed passes in a seed-permuted order: as many as `seconds` holds at
    // the workload's nominal pass length, and at least two. The count is
    // fixed before timing starts, so a run on a slow host does not report
    // from fewer (and less warmed-up) passes than a run on a fast one. With
    // tracing on, passes go untraced, traced, traced, untraced (and again),
    // at least four, so JIT warm-up drifting across the run weighs on both
    // sides of the tracing overhead alike.
    val trace = new Trace(spark)
    val roots = Seq(ctx.dir, Paths.get(System.getProperty("java.io.tmpdir")))
    val rng = new scala.util.Random(seed)
    val passes = ArrayBuffer.empty[String]
    val n = math.max(if (traced) 4 else 2, (seconds / wl.passSeconds).toInt)
    for (p <- 0 until n) {
      val tracedPass = traced && (p % 4 == 1 || p % 4 == 2)
      if (tracedPass) trace.on()
      val jit0 = Session.jvmTimes()._2
      val start = nowMs()
      val recs = rng.shuffle(ops).map(op => timed(op, ctx, if (tracedPass) roots else Nil))
      val end = nowMs()
      if (tracedPass) trace.off()
      passes += Json.obj("traced" -> tracedPass, "start_ms" -> start, "end_ms" -> end,
        "jit_s" -> (Session.jvmTimes()._2 - jit0), "ops" -> recs.map(Json.Raw))
    }

    val (gcS, jitS) = Session.jvmTimes()
    spark.stop()
    val heapMb = Session.retainedHeapMb()
    val out = Json.obj(
      "workload" -> arg("workload"), "seed" -> seed, "cpus" -> cpus,
      "setup_rounds_s" -> rounds, "warm_pass_s" -> warmS, "jit_wait_s" -> jitWaitS,
      "warm" -> warm.map { case (n, r) => Map("name" -> n, "fp" -> r.toOption, "error" -> r.left.toOption) },
      "passes" -> passes.map(Json.Raw), "heap_retained_mb" -> heapMb,
      "jvm" -> Map("gc_s" -> gcS, "jit_s" -> jitS),
      "jobs" -> trace.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Json.Raw(j.json)),
      "batches" -> trace.batches.asScala.toSeq.map { case (s, t, pl, w) =>
        Map("start_ms" -> s, "trigger_ms" -> t, "plan_ms" -> pl, "wal_ms" -> w) },
      "views" -> wl.views(ctx), "oracle" -> wl.oracle,
      "violations" -> wl.violations)
    Files.writeString(Paths.get(arg("out")), out)
  }

  /** One untimed execution: the fingerprint, or the error it threw. The
    * output is also written as parquet under `dump` for the DuckDB check. */
  private def attempt(op: Op, ctx: Ctx, dump: Path): Either[String, String] =
    try {
      val df = op.run(ctx)
      val fp = Fingerprint.of(df)
      df.write.mode("overwrite").parquet(dump.resolve(op.name).toString)
      Right(fp)
    } catch { case e: Throwable => Left(describe(e)) }

  private def describe(e: Throwable): String =
    (e.toString +: Option(e.getCause).map(c => s"caused by $c").toSeq).mkString("; ").take(500)

  /** One timed execution, split into body, plan and action. With `walk`
    * roots, also the files the op wrote under them. */
  private def timed(op: Op, ctx: Ctx, walk: Seq[Path]): String = {
    val before = if (walk.nonEmpty) Trace.walk(walk) else Map.empty[String, (Long, Long)]
    val compiles0 = Session.codegenCompiles()
    val t0 = nowMs()
    var t1, t2 = Double.NaN
    val r = try {
      val df = op.run(ctx)
      t1 = nowMs()
      df.queryExecution.executedPlan
      t2 = nowMs()
      Right(Fingerprint.of(df))
    } catch { case e: Throwable => Left(describe(e)) }
    val t3 = nowMs()
    val compiles = Session.codegenCompiles() - compiles0
    val files = if (walk.nonEmpty) Some(Trace.written(before, Trace.walk(walk))) else None
    Json.obj("name" -> op.name, "t0" -> t0, "t1" -> t1, "t2" -> t2, "t3" -> t3,
      "fp" -> r.toOption, "error" -> r.left.toOption, "codegen_compiles" -> compiles,
      "files" -> files.map(_._1), "meta_files" -> files.map(_._2), "bytes" -> files.map(_._3))
  }
}
