package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Closed loop of named queries with one client thread.
  *
  * An untimed first pass runs every query once, on a few threads, and
  * checks its output digest against the DuckDB oracle's. Timed passes
  * follow, each in an order drawn from `seed`. One op is `fn(spark, dir)`
  * followed by `queryExecution.toRdd.count()`, as `graft.Bench` times it,
  * and its row count is checked against the oracle's. At least two passes
  * are timed; another starts only while the measured time plus the last
  * pass's length stays within `seconds`, so every timed pass is whole.
  *
  * With `trace=1` every second pass is traced (at least three passes): each op is split into
  * construct / plan / exec spans and a listener counts jobs, stages and
  * tasks per step. Nothing of the kind is installed in the untraced run.
  */
object Batch {
  private final case class Expected(columns: Seq[String], rows: Long, hash: String)

  def run(spark: SparkSession, cfg: Map[String, String]): Map[String, Any] = {
    val dir = cfg("data")
    val names = cfg("queries").split(',').toSeq
    val seconds = cfg("seconds").toDouble
    val traced = cfg("trace") == "1"
    val expected = readExpected(cfg("expected"))
    val sc = spark.sparkContext
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(sc.addSparkListener)
    val spans = new Spans

    // untimed first pass: warms codegen and checks every query's output; it
    // runs on three threads, as nothing in it is timed per query and one
    // thread would double the run's set-up
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val checks =
      try names.map(n => pool.submit(() => check(spark, dir, n, expected.get(n)))).map(_.get())
      finally pool.shutdownNow()

    val rng = new scala.util.Random(cfg("seed").toLong)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val before = Main.validity()
    val firstOpEpochMs = System.currentTimeMillis()
    val timedT0 = System.nanoTime()
    var pass = 0
    var lastPassNs = 0L
    def elapsedNs = System.nanoTime() - timedT0
    // two timed passes, so a query's time can be taken from two runs far
    // apart; the traced run alternates untraced and traced passes, at least
    // untraced-traced-untraced, so that the tracing overhead is measured in
    // the same run and not confounded with the order of passes
    val minPasses = if (traced) 3 else 2
    while (pass < minPasses || elapsedNs + lastPassNs <= seconds * 1e9) {
      pass += 1
      val p0 = System.nanoTime()
      rng.shuffle(names).foreach { n =>
        ops += (if (traced && pass % 2 == 0) tracedOp(spark, dir, n, pass, ops.size, spans)
                else timedOp(spark, dir, n, pass))
      }
      lastPassNs = System.nanoTime() - p0
    }
    val timedMs = elapsedNs / 1e6
    val after = Main.validity()

    val rowsOk = ops.map { o =>
      val n = o("query").asInstanceOf[String]
      val ok = o.get("rows").exists(r => expected.get(n).exists(_.rows == r))
      o + ("ok" -> ok)
    }
    val layers = listener.map { l =>
      PerfbenchBus.drain(sc)
      Map("jobs_by_tag" -> l.snapshot, "spans" -> spans.all.map(s => Map(
        "id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ns" -> (s.startNs - timedT0), "end_ns" -> (s.endNs - timedT0))))
    }.getOrElse(Map.empty)
    Map("checks" -> checks, "ops" -> rowsOk, "passes" -> pass, "timed_ms" -> timedMs,
      "first_op_epoch_ms" -> firstOpEpochMs, "validity_before" -> before,
      "validity_after" -> after) ++ layers
  }

  private def check(spark: SparkSession, dir: String, n: String,
                    expected: Option[Expected]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val res =
      try {
        val d = Digest.of(SparkEntry.queries(n)(spark, dir))
        expected match {
          case None => Map("ok" -> false, "error" -> "no oracle digest")
          case Some(e) =>
            val ok = e.columns == d.columns && e.rows == d.rows && e.hash == d.hex
            Map("ok" -> ok, "rows" -> d.rows, "hash" -> d.hex, "columns" -> d.columns,
              "expected_rows" -> e.rows, "expected_hash" -> e.hash, "expected_columns" -> e.columns)
        }
      } catch { case e: Throwable => Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}") }
    res ++ Map("query" -> n, "ms" -> (System.nanoTime() - t0) / 1e6)
  }

  private def timedOp(spark: SparkSession, dir: String, n: String, pass: Int): Map[String, Any] = {
    val t0 = System.nanoTime()
    try {
      val rows = SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
      Map("query" -> n, "pass" -> pass, "ms" -> (System.nanoTime() - t0) / 1e6, "rows" -> rows)
    } catch {
      case e: Throwable =>
        Map("query" -> n, "pass" -> pass, "ms" -> (System.nanoTime() - t0) / 1e6,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  private def tracedOp(spark: SparkSession, dir: String, n: String, pass: Int, op: Int,
                       spans: Spans): Map[String, Any] = {
    val sc = spark.sparkContext
    val base = Map("query" -> n, "pass" -> pass, "op" -> op)
    val root = spans.open("op", op, -1)
    try {
      JobListener.tag(sc, s"$op/construct")
      val df = spans.time("construct", op, root)(SparkEntry.queries(n)(spark, dir))
      JobListener.tag(sc, s"$op/plan")
      spans.time("plan", op, root)(df.queryExecution.executedPlan)
      JobListener.tag(sc, s"$op/exec")
      val rows = spans.time("exec", op, root)(df.queryExecution.toRdd.count())
      spans.close(root)
      val ms = spans.durationMs(root)
      val qe = df.queryExecution
      val phases = qe.tracker.phases.map { case (k, v) => s"${k}_ms" -> v.durationMs }
      base ++ phases ++ PlanStats(qe.executedPlan) ++ Map("ms" -> ms, "rows" -> rows, "traced" -> true)
    } catch {
      case e: Throwable =>
        spans.close(root)
        base ++ Map("ms" -> spans.durationMs(root), "traced" -> true, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
    } finally JobListener.tag(sc, null)
  }

  /** `name<TAB>rows<TAB>hash<TAB>col1,col2,...` per line. */
  private def readExpected(path: String): Map[String, Expected] =
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      f(0) -> Expected(if (f(3).isEmpty) Seq.empty else f(3).split(',').toSeq, f(1).toLong, f(2))
    }.toMap
}
