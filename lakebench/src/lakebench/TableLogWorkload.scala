package lakebench

import graft.core.TableLog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `table_log_ops`: a one-client closed loop of `core.TableLog` calls on a
  * lineitem-shaped table with the change feed enabled.
  *
  * Each cycle runs the eight calls once, in a fixed order: five commits
  * (append, upsert, copy-on-write delete, deletion-vector delete, compact)
  * and three reads (tip read with a key-range filter, time-travel read,
  * change feed over the last two commits). The seed picks the rows, key
  * ranges and versions. Whole cycles keep the mix the same for every seed. Every call is checked, outside its timing,
  * against an in-memory replay of the same sequence: returned versions
  * and counts, read results, change-row counts and, at the end, the
  * content hash of the whole snapshot.
  */
object TableLogWorkload {

  private final case class Rec(partKey: Long, qty: Long, price: Long, shipDay: Int, comment: String)
  private type Key = (Long, Int)

  private val schema = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_quantity", LongType, nullable = false),
    StructField("l_price", LongType, nullable = false),
    StructField("l_shipday", IntegerType, nullable = false),
    StructField("l_comment", StringType, nullable = false)))

  private val keyCols = Seq("l_orderkey", "l_linenumber")
  private val M = 2147483647L
  private val comments = Vector("carefully final deposits", "quickly regular ideas",
    "furiously even packages sleep", "blithely", "slyly ironic requests haggle above the",
    "pending accounts", "express theodolites wake", "bold foxes")

  /** Per-row content hash; `hashCol` is the same formula in Spark SQL. */
  private def hash(k: Key, r: Rec): Long =
    Math.floorMod(k._1 * 1000003L + k._2 * 7919L + r.partKey * 31L + r.qty * 131L +
      r.price + r.shipDay * 17L + r.comment.length, M)

  private val hashCol = pmod(col("l_orderkey") * 1000003L + col("l_linenumber") * 7919L +
    col("l_partkey") * 31L + col("l_quantity") * 131L + col("l_price") +
    col("l_shipday") * 17L + length(col("l_comment")), lit(M))

  private def rec(ok: Long, ln: Int, seed: Long): Rec = {
    val pk = Math.floorMod(ok * 7 + ln * 13 + seed, 20000L)
    val qty = 1 + Math.floorMod(ok * 31 + ln + seed, 50L)
    Rec(pk, qty, qty * (900 + pk % 9000), 8000 + Math.floorMod(ok + seed, 2500L).toInt,
      comments(Math.floorMod(ok + ln + seed, comments.size.toLong).toInt))
  }

  private def frame(spark: SparkSession, rows: Seq[(Key, Rec)]): DataFrame =
    spark.createDataFrame(rows.map { case ((ok, ln), r) =>
      Row(ok, ln, r.partKey, r.qty, r.price, r.shipDay, r.comment) }.asJava, schema)

  private def agg(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(hashCol), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  def run(spark: SparkSession, tracer: Tracer, a: Args): Outcome = {
    val orders = if (a.small) 1250 else 10000 // four lines each
    val failures = mutable.ArrayBuffer[String]()
    val seedRows = for (ok <- 1L to orders; ln <- 1 to 4) yield ((ok, ln), rec(ok, ln, a.seed))

    // set-up, repeated: build the seeded table (each repetition under its
    // own path, so no per-path metadata cache sees a table replaced)
    def seedTable(i: Int): Path = {
      val dir = a.work.resolve(s"seed-$i")
      TableLog.append(spark, dir.toString, frame(spark, seedRows).repartition(4))
      TableLog.setTableProperties(spark, dir.toString, Map(
        "graft.enableChangeDataFeed" -> "true",
        "graft.changeDataFeed.keys" -> keyCols.mkString(",")))
      dir
    }
    val reps = (1 to (if (a.small) 1 else 3)).map { i =>
      val t0 = System.nanoTime()
      val dir = seedTable(i)
      (dir, (System.nanoTime() - t0) / 1e9)
    }
    val seedDir = reps.last._1
    // then one untimed warm-up cycle on a copy of the seeded table
    val t0 = System.nanoTime()
    val rnd = new scala.util.Random(a.seed)
    val warm = new Replay(spark, tracer, a, copyTree(seedDir, a.work.resolve("warm-up")),
      seedRows, orders, rnd, failures)
    warm.cycle()
    val setupS = Main.median(reps.map(_._2)) + (System.nanoTime() - t0) / 1e9
    Main.log(f"set-up done: seed tables ${reps.map(r => f"${r._2}%.2f").mkString(", ")} s, " +
      f"total $setupS%.2f s")

    // the measured loop starts from a fresh copy of the seeded table;
    // whole cycles until the timed seconds are used
    val dirPath = copyTree(seedDir, a.work.resolve("table"))
    val run = new Replay(spark, tracer, a, dirPath, seedRows, orders, rnd, failures)
    var cycles = 0
    while (cycles < 2 || (!a.small && run.timedS < a.seconds)) {
      run.traced = a.trace && cycles % 2 == 1
      run.cycle()
      cycles += 1
    }
    Main.log(s"$cycles cycles done")
    run.checkSnapshot()
    val layer = if (a.trace) layerMetrics(tracer, dirPath) else Map.empty[String, Double]
    Outcome(setupS, run.samples.toSeq, Nil, failures.toSeq, layer, Seq(dirPath))
  }

  private def layerMetrics(tracer: Tracer, dirPath: Path): Map[String, Double] = {
    val spans = tracer.allSpans.filter(_.name.startsWith("table_log."))
    val perOp = Layers.tableLogOps.flatMap { o =>
      val ss = spans.filter(_.name == s"table_log.$o")
      Seq(s"table_log.$o.ms" -> Main.median(ss.map(_.ms)),
        s"table_log.$o.jobs" -> Main.median(ss.map(_.allJobs.size.toDouble)),
        s"table_log.$o.driver_ms" -> Main.median(ss.map(_.driverMs)))
    }
    val reads = spans.filter(_.name == "table_log.read")
    val commits = spans.filter(s => Set("append", "upsert", "delete", "delete_dv")
      .contains(s.name.stripPrefix("table_log.")))
    val files = Files.walk(dirPath)
    val (logFiles, dataFiles) = try files.iterator().asScala.filter(Files.isRegularFile(_))
      .map(dirPath.relativize(_).toString).toSeq.partition(_.startsWith("_graft_log"))
    finally files.close()
    (perOp ++ Seq(
      "table_log.read.rows_read_per_row_out" ->
        reads.map(_.total("input_records")).sum / math.max(1.0, reads.map(_("rows_out")).sum),
      "table_log.commit.bytes_written_per_row" ->
        commits.map(_.total("output_bytes")).sum / math.max(1.0, commits.map(_("rows")).sum),
      "table_log.log_files" -> logFiles.size.toDouble,
      "table_log.data_files" -> dataFiles.count(_.endsWith(".parquet")).toDouble)).toMap
  }

  /** The operation loop on one table, with its in-memory replay: live
    * rows, and per version the (count, hash) aggregate and change counts.
    */
  private final class Replay(spark: SparkSession, tracer: Tracer, a: Args, dirPath: Path,
                             seedRows: Seq[(Key, Rec)], orders: Int, rnd: scala.util.Random,
                             failures: mutable.ArrayBuffer[String]) {
    private val dir = dirPath.toString
    private val batch = if (a.small) 40 else 400
    private val model = mutable.HashMap[Key, Rec]() ++= seedRows
    private val v0 = TableLog.versions(spark, dir).last
    private val versionAgg = mutable.HashMap[Long, (Long, Long)](v0 -> modelAgg(model))
    private val versionChanges = mutable.HashMap[Long, Map[String, Long]]()
    private var tip = v0
    private var nextOrder = orders + 1L
    val samples = mutable.ArrayBuffer[Sample]()
    /** Whether the calls run traced; a traced run alternates whole cycles. */
    var traced = false

    def timedS: Double = samples.map(_.ms).sum / 1e3

    private def modelAgg(rows: Iterable[(Key, Rec)]): (Long, Long) =
      (rows.size.toLong, rows.iterator.map { case (k, r) => hash(k, r) }.sum)

    private def existingInRange(lo: Long, hi: Long): Seq[Key] =
      (lo to hi).flatMap(ok => (1 to 4).map(ln => (ok, ln))).filter(model.contains)

    private def freshRows(nOrders: Int): Seq[(Key, Rec)] = {
      val rows = for (ok <- nextOrder until nextOrder + nOrders; ln <- 1 to 4)
        yield ((ok, ln), rec(ok, ln, a.seed + 1))
      nextOrder += nOrders
      rows
    }

    /** A key range inside the seeded orders: every seed then meets the
      * same files (the seeded ones, or after `compact` the one big file).
      */
    private def randomStart(span: Long): Long =
      1 + (rnd.nextDouble() * math.max(1L, orders - span)).toLong

    private def expectCommit(got: Long, changes: Map[String, Long], what: String): Unit = {
      if (got != tip + 1) failures += s"$what committed version $got, expected ${tip + 1}"
      tip = got
      versionAgg(tip) = modelAgg(model)
      versionChanges(tip) = changes
    }

    /** One call: time `call`, then check it with `verify` (untimed).
      * `rows`: rows the call adds, changes or deletes (commits only).
      */
    private def op[T](name: String, rows: Long = 0)(call: => T)(verify: T => Unit): Unit = {
      tracer.on = traced
      val t = System.nanoTime()
      val res = try Some(tracer.spanned("table_log." + name) { s =>
        s.foreach(_.add("rows", rows))
        val r = call
        r match {
          case (n: Long, _: Long) if name == "read" => s.foreach(_.add("rows_out", n))
          case _ =>
        }
        r
      }) catch { case e: Exception => failures += s"$name: $e"; None }
      val ms = (System.nanoTime() - t) / 1e6
      tracer.on = false
      val nFail = failures.size
      res.foreach(verify)
      samples += Sample(name, ms, traced, res.isDefined && failures.size == nFail)
    }

    private def append(): Unit = {
      val rows = freshRows(batch / 4)
      val df = frame(spark, rows)
      op("append", rows.size)(TableLog.append(spark, dir, df)) { v =>
        model ++= rows
        expectCommit(v, Map("insert" -> rows.size.toLong), "append")
      }
    }

    private def upsert(): Unit = {
      val lo = randomStart(batch / 8)
      val updated = existingInRange(lo, lo + batch / 8 - 1).map { k =>
        val r = model(k)
        k -> r.copy(qty = r.qty + 1 + rnd.nextInt(5), price = r.price + 100)
      }
      val inserted = freshRows(batch / 16)
      val df = frame(spark, updated ++ inserted)
      op("upsert", updated.size + inserted.size)(TableLog.upsert(spark, dir, df, keyCols)) {
        case (v, _) =>
          model ++= updated
          model ++= inserted
          expectCommit(v, Map("update_preimage" -> updated.size.toLong,
            "update_postimage" -> updated.size.toLong, "insert" -> inserted.size.toLong), "upsert")
      }
    }

    private def delete(name: String): Unit = {
      val lo = randomStart(batch / 8)
      val hi = lo + batch / 8 - 1
      val gone = existingInRange(lo, hi)
      val cond = col("l_orderkey").between(lo, hi)
      def applied(v: Long): Unit = {
        gone.foreach(model.remove)
        if (gone.isEmpty) { if (v != tip) failures += s"$name of nothing moved the tip to $v" }
        else expectCommit(v, Map("delete" -> gone.size.toLong), name)
      }
      if (name == "delete")
        op(name, gone.size)(TableLog.deleteWhere(spark, dir, cond)) { case (v, _) => applied(v) }
      else
        op(name, gone.size)(TableLog.deleteWhereDv(spark, dir, cond)) { case (v, n) =>
          if (n != gone.size) failures += s"delete_dv removed $n rows, expected ${gone.size}"
          applied(v)
        }
    }

    private def compact(): Unit =
      op("compact")(TableLog.compact(spark, dir)) { case (_, _, v) =>
        expectCommit(v, Map.empty, "compact")
      }

    private def read(): Unit = {
      val lo = randomStart(orders / 20)
      val hi = lo + orders / 20
      op("read")(agg(TableLog.read(spark, dir).filter(col("l_orderkey").between(lo, hi)))) { got =>
        val want = modelAgg(model.filter { case ((ok, _), _) => ok >= lo && ok <= hi })
        if (got != want) failures += s"read [$lo, $hi] at v$tip: $got, replay $want"
      }
    }

    private def readAsOf(): Unit = {
      val v = v0 + (rnd.nextDouble() * (tip - v0)).toLong
      op("read_asof")(agg(TableLog.read(spark, dir, version = Some(v)))) { got =>
        if (got != versionAgg(v)) failures += s"read as of v$v: $got, replay ${versionAgg(v)}"
      }
    }

    private def changes(): Unit = {
      val from = math.max(v0, tip - 2)
      op("changes")(TableLog.changes(spark, dir, from, tip, keyCols)
        .groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap) { got =>
        val want = (from + 1 to tip).flatMap(versionChanges.getOrElse(_, Map.empty))
          .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }.filter(_._2 > 0)
        if (got != want) failures += s"changes ($from, $tip]: $got, replay $want"
      }
    }

    /** The eight calls once each. The order is fixed: it decides the file
      * layout each call meets (a delete right after `compact` rewrites the
      * one big file), so a seeded order would vary the work per seed.
      */
    def cycle(): Unit = {
      append(); upsert(); read(); delete("delete"); readAsOf(); delete("delete_dv")
      changes(); compact()
    }

    /** The whole snapshot's content hash against the replay. */
    def checkSnapshot(): Unit = {
      val snapshot = agg(TableLog.read(spark, dir))
      if (snapshot != modelAgg(model)) failures += s"final snapshot $snapshot, replay ${modelAgg(model)}"
    }
  }

  private def copyTree(from: Path, to: Path): Path = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target) else Files.copy(p, target)
    } finally st.close()
    to
  }
}
