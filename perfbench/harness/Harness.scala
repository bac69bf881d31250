package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{Queries, Tables}
import graft.ops.{Conf, MovieOps}
import graft.pipeline.BackfillCli
import org.apache.spark.sql.SparkSession

/** Minimal JSON writer. Numbers go through `Double.toString`, which is
  * locale-independent (same digits under any default locale). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => String.format(java.util.Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** The benchmark's JVM side. One process per run; the Python runner
  * generates the inputs, launches this, checks the outputs and prints
  * the result. Every timing is taken here around a public entry point of
  * the program (`SparkSession` set-up, `Queries.byName(q).fn` plus a
  * `noop` write, `BackfillCli.run` and its `onProgress` callback); the
  * program itself is not instrumented.
  *
  * Usage: `Harness <probe|mix|backfill> key=value ...`, writing a JSON
  * record to `record=<path>`.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val p = args.drop(1).map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val spark = Tables.configure(SparkSession.builder(), p("cpus"))
      .config("spark.local.dir", p("tmp"))
      .config("spark.sql.warehouse.dir", p("tmp") + "/warehouse")
      .getOrCreate()
    val readyMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("ERROR")
    val fields = mutable.LinkedHashMap[String, String]("ready_ms" -> readyMs.toString)
    try args(0) match {
      case "probe" =>
      case "mix" => new Mix(spark, p, fields).run()
      case "backfill" => new Backfill(spark, p, fields).run()
    } finally {
      fields("heap_retained_mb") = Json.num(Tracer.retainedHeapMb())
      Files.write(Paths.get(p("record")), Json.obj(fields).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  def secs(ns: Long): Double = ns / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Measured loop shared by both modes: one cold pass, then hot passes
    * until `seconds` have elapsed since the cold pass began and at least
    * five hot passes ran (hot passes are still warming up, and a median
    * over few of them is noisy). In a traced run the hot passes alternate
    * traced and untraced in whole blocks of T U U T, which cancels a
    * steady warm-up drift, so the tracer's own cost can be read off as the
    * difference of the two medians. Returns (cold pass, hot passes). */
  def passes[P](seconds: Double, tracer: Option[Tracer])(
      pass: (Int, Boolean) => P): (P, Seq[(P, Boolean)]) = {
    val t0 = System.nanoTime()
    tracer.foreach(_.attach())
    val cold = pass(0, tracer.isDefined)
    val hot = mutable.ArrayBuffer.empty[(P, Boolean)]
    def more = hot.size < 5 || (secs(System.nanoTime() - t0) < seconds && hot.size < 200)
    while (more || (tracer.isDefined && hot.size % 4 != 0)) {
      val traced = tracer.isDefined && (hot.size % 4 == 0 || hot.size % 4 == 3)
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      hot += ((pass(hot.size + 1, traced), traced))
    }
    tracer.foreach(_.detach())
    (cold, hot.toSeq)
  }
}

import Harness._

/** One timed query execution; `stats` only in traced passes. */
final case class Run(secs: Double, stats: Option[OpStats])

/** One `BackfillCli.run`: its time, month commit times, the time from the
  * last month's progress call to the return (consolidation), months it
  * processed, and in traced runs the engine's work. */
final case class Phase(secs: Double, commits: Seq[Double], consolidateS: Double,
    processed: Int, stats: Option[OpStats])

/** `llm_mix` / `sql_mix`: the named queries, in the given order, as one
  * session's closed loop with a single client. Caches persist across
  * passes, as they would in an interactive session. After the measured
  * window an untimed check pass writes each query's result as parquet
  * for the runner's oracle comparison. */
final class Mix(spark: SparkSession, p: Map[String, String],
    out: mutable.LinkedHashMap[String, String]) {
  private val data = p("data")
  private val qs = p("queries").split(",").toSeq.map(Queries.byName)
  private val tracer = if (p("trace") == "1") Some(new Tracer(spark)) else None
  private val errors = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0

  type Pass = (Double, Map[String, Run])
  private def timed(p: Pass): Double = p._2.values.map(_.secs).sum

  private def pass(i: Int, traced: Boolean): Pass = {
    val p0 = System.nanoTime()
    val runs = qs.map { q =>
      tracer.foreach(_.begin())
      attempted += 1
      val t0 = System.nanoTime()
      try q.fn(spark, data).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => errors(s"${q.name}#$i") = String.valueOf(e.getMessage).take(300) }
      val t1 = System.nanoTime()
      val st = tracer.filter(_ => traced).map { t =>
        val s = t.end()
        t.span(q.name, t0, t1, 0)
        s
      }
      q.name -> Run(secs(t1 - t0), st)
    }.toMap
    val p1 = System.nanoTime()
    tracer.filter(_ => traced).foreach(_.span(if (i == 0) "cold pass" else s"hot pass $i", p0, p1, 0))
    (secs(p1 - p0), runs)
  }

  def run(): Unit = {
    val (gc0, jit0) = Tracer.jvm()
    val (cg0, cgMs0) = Tracer.codegen()
    val (cold, hot) = passes(p("seconds").toDouble, tracer)(pass)
    val (gc1, jit1) = Tracer.jvm()
    val (cg1, cgMs1) = Tracer.codegen()
    val untraced = hot.filterNot(_._2).map(_._1)
    out("cold_s") = Json.num(cold._1)
    out("hot_s") = Json.num(median(untraced.map(_._1)))
    out("hot_passes") = Json.arr(hot.map(h => Json.num(h._1._1)))
    out("queries") = Json.obj(qs.map { q =>
      q.name -> Json.obj(Seq(
        "cold_s" -> Json.num(cold._2(q.name).secs),
        "hot_s" -> Json.num(median(untraced.map(_._2(q.name).secs)))))
    })
    tracer.foreach { t =>
      val traced = hot.filter(_._2).map(_._1)
      val (builds, mb, minParts) = Tracer.storage(spark)
      out("trace") = Json.obj(Seq(
        // on the timed part of a pass: what tracing adds to the measured numbers
        "overhead_s" -> Json.num(median(traced.map(timed)) - median(untraced.map(timed))),
        "memo.cache_builds" -> builds.toString,
        "memo.cached_mb" -> Json.num(mb),
        "memo.min_cache_partitions" -> minParts.toString,
        "jvm.gc_ms" -> (gc1 - gc0).toString,
        "jvm.jit_ms" -> (jit1 - jit0).toString,
        "codegen.classes" -> (cg1 - cg0).toString,
        "codegen.compile_ms" -> Json.num(cgMs1 - cgMs0),
        "cold_pass" -> passJson(cold),
        // the traced hot pass of median length stands for a hot pass
        "hot_pass" -> passJson(traced.sortBy(_._1).apply(traced.size / 2))))
      out("spans") = t.spansJson
    }
    // untimed check pass: one parquet file per query, as graft.Verify writes
    qs.foreach { q =>
      attempted += 1
      try q.fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"${p("check")}/${q.name}")
      catch { case e: Throwable => errors(s"${q.name}#check") = String.valueOf(e.getMessage).take(300) }
    }
    out("oracles") = Json.obj(qs.flatMap(q => q.oracle.map(o => q.name -> Json.str(o))))
    out("attempted") = attempted.toString
    out("errors") = Json.obj(errors.map { case (k, v) => k -> Json.str(v) })
  }

  /** One traced pass: totals over its queries, and each query's own. */
  private def passJson(pass: Pass): String = {
    def one(r: Run): Seq[(String, String)] = {
      val s = r.stats.get
      Seq("wall_s" -> Json.num(r.secs), "plan_ms" -> Json.num(s.planMs),
        "exec_ms" -> Json.num(r.secs * 1000 - s.planMs),
        "driver_ms" -> Json.num(s.driverMs(r.secs * 1000)),
        "stages" -> s.stages.toString, "tasks" -> s.tasks.toString,
        "task_ms" -> s.taskMs.toString, "cpu_ms" -> s.cpuMs.toString,
        "shuffle_read_mb" -> Json.num(s.shuffleReadB / 1048576.0),
        "shuffle_write_mb" -> Json.num(s.shuffleWriteB / 1048576.0),
        "spill_mb" -> Json.num(s.spillB / 1048576.0),
        "cache_scans" -> s.cacheScans.toString,
        "plan_hash" -> s.planHash.toString)
    }
    val per = qs.map(q => q.name -> one(pass._2(q.name)))
    val totals = per.head._2.map(_._1).filterNot(Set("wall_s", "plan_hash")).map { k =>
      k -> Json.num(per.map(_._2.toMap.apply(k).toDouble).sum)
    }
    Json.obj(("wall_s" -> Json.num(pass._1)) +: totals :+
      ("per_query" -> Json.obj(per.map { case (n, kv) => n -> Json.obj(kv) })))
  }
}

/** `backfill`: `BackfillCli.run` over the file transport into an empty
  * output directory (fresh), repeated until the window is used up; then
  * the same run resumed from the on-disk state a crash between month k+1's
  * part write and its checkpoint mark leaves behind: k marks, parts
  * 1..k+1, no masters. Every run's outputs stay for the checks. */
final class Backfill(spark: SparkSession, p: Map[String, String],
    out: mutable.LinkedHashMap[String, String]) {
  private val work = p("work")
  private val crashAfter = p("crash").toInt
  private val tracer = if (p("trace") == "1") Some(new Tracer(spark)) else None
  private val errors = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0

  private def cli(outDir: String, onProgress: (String, Int, Int) => Unit) =
    BackfillCli.run(spark, Conf.Layered(Map(
      "pages-dir" -> p("pages"), "out-dir" -> outDir,
      "from" -> p("from"), "to" -> p("to"), "genres" -> p("genres")),
      Map.empty, Map.empty), onProgress)

  private def phase(name: String, outDir: String, traced: Boolean): Phase = {
    attempted += 1
    tracer.foreach(_.begin())
    val marks = mutable.ArrayBuffer.empty[(String, Long)]
    val t0 = System.nanoTime()
    val processed =
      try cli(outDir, (key, _, _) => marks += ((key, System.nanoTime()))).processedMonths.size
      catch { case e: Throwable => errors(s"$name $outDir") = String.valueOf(e.getMessage).take(300); -1 }
    val t1 = System.nanoTime()
    // month commits: the interval each onProgress call closes; a month the
    // checkpoint already holds reports at once and is not a commit
    val bounds = t0 +: marks.map(_._2).toSeq
    val commits = bounds.zip(bounds.tail).map { case (a, b) => secs(b - a) }
      .takeRight(math.max(processed, 0))
    val stats = tracer.filter(_ => traced).map { t =>
      val s = t.end()
      val id = t.span(name, t0, t1, 0)
      bounds.zip(bounds.tail).zip(marks).foreach { case ((a, b), (k, _)) => t.span(s"month $k", a, b, id) }
      t.span("consolidate", bounds.last, t1, id)
      s
    }
    Phase(secs(t1 - t0), commits, secs(t1 - bounds.last), processed, stats)
  }

  /** The crash state: parts 1..k+1 copied from a finished run, k marks. */
  private def crashState(from: String, to: String): Unit = {
    val months = MovieOps.monthRanges(p("from"), p("to"))
    Files.createDirectories(Paths.get(to))
    months.take(crashAfter + 1).foreach { case (ms, _) =>
      copyTree(Paths.get(s"$from/part_month=$ms"), Paths.get(s"$to/part_month=$ms"))
    }
    MovieOps.saveCheckpoint(s"$to/checkpoint_months.json",
      months.take(crashAfter).map { case (ms, me) => s"${ms}_$me" })
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val it = Files.walk(src)
    try it.forEach(s => Files.copy(s, dst.resolve(src.relativize(s).toString)))
    finally it.close()
  }

  def run(): Unit = {
    val (gc0, jit0) = Tracer.jvm()
    val (cg0, cgMs0) = Tracer.codegen()
    val (cold, hot) = passes(p("seconds").toDouble, tracer) { (i, traced) =>
      phase("fresh", s"$work/fresh-$i", traced)
    }
    try crashState(s"$work/fresh-${hot.size}", s"$work/resume")
    catch { case e: Throwable => errors("crash state") = String.valueOf(e.getMessage).take(300) }
    tracer.foreach(_.attach())
    val resume = phase("resume", s"$work/resume", tracer.isDefined)
    tracer.foreach(_.detach())
    val (gc1, jit1) = Tracer.jvm()
    val (cg1, cgMs1) = Tracer.codegen()
    val untraced = hot.filterNot(_._2).map(_._1)
    out("cold_s") = Json.num(cold.secs)
    out("hot_s") = Json.num(median(untraced.map(_.secs)))
    out("resume_s") = Json.num(resume.secs)
    out("fresh_runs") = (hot.size + 1).toString
    out("fresh_s") = Json.arr((cold +: hot.map(_._1)).map(f => Json.num(f.secs)))
    tracer.foreach { t =>
      // medians over the traced warm runs
      val fr = hot.filter(_._2).map(_._1)
      val commits = fr.flatMap(_.commits)
      def med(f: OpStats => Double) = Json.num(median(fr.map(x => f(x.stats.get))))
      out("trace") = Json.obj(Seq(
        "overhead_s" -> Json.num(median(fr.map(_.secs)) - median(untraced.map(_.secs))),
        "source.tasks" -> med(_.sourceTasks.toDouble),
        "source.read_s" -> med(_.sourceTaskMs / 1000.0),
        "dedup.shuffle_mb" -> med(_.shuffleWriteB / 1048576.0),
        "normalize_dedup.s" -> med(s => (s.taskMs - s.sourceTaskMs) / 1000.0),
        "sink.month_commit_p50_s" -> Json.num(median(commits)),
        "sink.month_commit_max_s" -> Json.num(if (commits.isEmpty) Double.NaN else commits.max),
        "consolidate_s" -> Json.num(median(fr.map(_.consolidateS))),
        "resume.consolidate_s" -> Json.num(resume.consolidateS),
        "checkpoint.writes" -> (cold.processed + resume.processed).toString,
        "resume.skipped_months" -> (MovieOps.monthRanges(p("from"), p("to")).size - resume.processed).toString,
        "query.plan_ms" -> med(_.planMs),
        "query.stages" -> med(_.stages.toDouble),
        "query.tasks" -> med(_.tasks.toDouble),
        "query.task_ms" -> med(_.taskMs.toDouble),
        "query.cpu_ms" -> med(_.cpuMs.toDouble),
        "query.driver_ms" -> Json.num(median(fr.map(ph => ph.stats.get.driverMs(ph.secs * 1000)))),
        "jvm.gc_ms" -> (gc1 - gc0).toString,
        "jvm.jit_ms" -> (jit1 - jit0).toString,
        "codegen.classes" -> (cg1 - cg0).toString,
        "codegen.compile_ms" -> Json.num(cgMs1 - cgMs0)))
      out("spans") = t.spansJson
    }
    out("attempted") = attempted.toString
    out("errors") = Json.obj(errors.map { case (k, v) => k -> Json.str(v) })
  }
}
