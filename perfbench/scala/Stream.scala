package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.operators.ReferenceOps
import graft.streaming.StreamRunner

/** The live transaction topology, open loop.
  *
  * A generator thread replays `schedule.tsv` from the staged plan: at each
  * file's due time it atomically moves the file into its topic's landing
  * directory. Files due at time 0 are primers, processed before the clock
  * starts. `ReferenceOps.transactionTopology` runs over two `fileSource`s
  * into a parquet `fileSink`; beside it a `streamingDedup` of purchases by
  * `user_id` writes the first purchase of every user. Both run back-to-back
  * micro-batches capped at `maxFilesPerTrigger` files per source.
  *
  * The plan offers a fixed event rate for a while, then lands a backlog at
  * once. Once every file has landed, both queries process all available
  * input; then the run checks both sinks against the batch experiment over
  * the same files.
  * Progress events and the generator's move times go into the run record;
  * `run.py` turns them into latency, drain rate and per-batch figures.
  */
object Stream {
  private val purchase = StructType(Seq("key", "id", "amount", "user_id", "quantity")
    .map(StructField(_, IntegerType)) :+ StructField("ts", LongType))
  private val donation = StructType(Seq(
    StructField("key", IntegerType), StructField("donation_amount_cents", IntegerType),
    StructField("user_id", IntegerType), StructField("donation_date", StringType),
    StructField("ts", LongType)))
  private val topics = Seq("purchase-made", "humble-donation-made")

  def run(spark: SparkSession, cfg: Map[String, String]): Map[String, Any] = {
    val plan = cfg("plan")
    val work = cfg("work")
    val warmS = cfg("warm").toDouble
    val maxFiles = cfg("max_files")
    val land = topics.map(t => t -> s"$work/land/$t").toMap
    land.values.foreach(d => Files.createDirectories(Paths.get(d)))
    val schedule = scala.io.Source.fromFile(s"$plan/schedule.tsv").getLines()
      .filter(_.nonEmpty).map(_.split('\t')).map(f => (f(0), f(1).toLong, f(2))).toVector

    val progress = new ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    def bindings = topics.map { t =>
      t -> StreamRunner.fileSource(spark, land(t), if (t == topics.head) purchase else donation,
        options = Map("maxFilesPerTrigger" -> maxFiles))
    }.toMap
    val topo = ReferenceOps.transactionTopology
    val compileMs = (1 to 5).map { _ =>
      val b = bindings
      val t0 = System.nanoTime()
      topo.compile(b)
      (System.nanoTime() - t0) / 1e6
    }
    val trigger = Trigger.ProcessingTime(0L)
    val topoOut = s"$work/out/large-transaction-made"
    val dedupOut = s"$work/out/dedup"
    val engine = StreamRunner.start(topo, bindings,
      (_, df) => StreamRunner.fileSink(df, topoOut, s"$work/ckpt/topology", trigger = trigger))
    val purchases = bindings(topics.head).withColumn("ts", timestamp_micros(col("ts")))
    val dedup = StreamRunner.fileSink(
      StreamRunner.streamingDedup(purchases, "ts", "1 hour", Seq("user_id")).select("user_id"),
      dedupOut, s"$work/ckpt/dedup", trigger = trigger)
    val topoId = engine.queries.head.id.toString

    // primers: the files due at time 0 land first and both queries process
    // them, so the first, cold micro-batch runs before the clock starts
    def land1(i: Int): Unit = {
      val (topic, _, file) = schedule(i)
      Files.move(Paths.get(s"$plan/$file"), Paths.get(s"${land(topic)}/$file"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val primers = schedule.indexWhere(_._2 > 0) match { case -1 => schedule.size; case n => n }
    (0 until primers).foreach(land1)
    (engine.queries :+ dedup).foreach(_.processAllAvailable())

    // generator: one thread replaying the rest against the wall clock
    val moves = new Array[Long](schedule.size)
    val t0Ms = System.currentTimeMillis()
    val t0Ns = System.nanoTime()
    val gen = new Thread(() => {
      (primers until schedule.size).foreach { i =>
        val waitNs = t0Ns + schedule(i)._2 * 1000 - System.nanoTime()
        if (waitNs > 0) Thread.sleep(waitNs / 1000000, (waitNs % 1000000).toInt)
        land1(i)
        moves(i) = (System.nanoTime() - t0Ns) / 1000
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    val before = Main.validity()

    // once every file has landed, let both queries commit all of them
    gen.join()
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    (engine.queries :+ dedup).foreach { q =>
      try q.processAllAvailable()
      catch { case e: Exception => failures += s"${q.id}: ${e.getMessage}" }
    }
    val after = Main.validity()
    val drainedMs = (System.nanoTime() - t0Ns) / 1e6
    engine.stop()
    dedup.stop()

    // parity: the topology's sink equals the batch experiment over the same
    // files; the dedup sink holds each purchasing user exactly once
    def read(t: String) = spark.read.schema(if (t == topics.head) purchase else donation).json(land(t))
    val expected = topo.experiment(topics.map(t => t -> read(t)).toMap)("large-transaction-made")
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    val got = spark.read.parquet(topoOut).select("key", "user_id", "amount").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    val (topoMissing, topoExtra) = diff(expected, got)
    val users = read(topics.head).select("user_id").distinct().collect().map(_.getInt(0)).toSeq
    val dedupRows = spark.read.parquet(dedupOut).collect().map((r: Row) => r.getInt(0)).toSeq
    val (dedupMissing, dedupExtra) = diff(users, dedupRows)
    val checkedMs = (System.nanoTime() - t0Ns) / 1e6

    Map("progress" -> progress.asScala.toSeq, "topology_id" -> topoId,
      "dedup_id" -> dedup.id.toString, "t0_epoch_ms" -> t0Ms, "warm_s" -> warmS,
      "moves_us" -> moves.toSeq, "schedule_due_us" -> schedule.map(_._2),
      "compile_ms" -> compileMs, "query_failures" -> failures,
      "expected_rows" -> (expected.size + users.size),
      "missing_rows" -> (topoMissing + dedupMissing), "extra_rows" -> (topoExtra + dedupExtra),
      "first_op_epoch_ms" -> (t0Ms + (warmS * 1000).toLong),
      "validity_before" -> before, "validity_after" -> after,
      "drained_ms" -> drainedMs, "checked_ms" -> checkedMs)
  }

  /** (missing, extra) row counts of `got` against `expected`, as multisets. */
  private def diff[T](expected: Seq[T], got: Seq[T]): (Long, Long) = {
    val e = expected.groupBy(identity).view.mapValues(_.size).toMap
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val keys = e.keySet ++ g.keySet
    (keys.iterator.map(k => math.max(0, e.getOrElse(k, 0) - g.getOrElse(k, 0)).toLong).sum,
     keys.iterator.map(k => math.max(0, g.getOrElse(k, 0) - e.getOrElse(k, 0)).toLong).sum)
  }
}
