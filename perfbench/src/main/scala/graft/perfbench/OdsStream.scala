package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.apps.{DimRouterApp, DwdOrderDetailApp, DwsSkuOrderApp, EventMartStream}
import graft.queries.CoreQueries

/** `ods_stream`: a closed-loop replay of the two ODS topics. One
  * event-time slice of both topics is generated and staged in set-up.
  * `topic_db` feeds the trade apps (Maxwell envelopes → DimRouterApp;
  * flat order JSON → DwdOrderDetailApp; order-detail rows with
  * duplicate re-emits → DwsSkuOrderApp); `topic_log` events feed
  * EventMartStream.processBatch. The slice goes in as two releases,
  * each renamed into the source directories once the previous one has
  * committed, and each app whose topic a release carries runs over it.
  * The amount of streaming work is fixed. After the last release the
  * dashboard refreshes, each time reading the five mart views, for
  * `--seconds`.
  *
  * The first release is the whole slice, except the DWS topic's rows
  * after a boundary in the middle of the slice, and closes the DWD
  * joins with flusher rows. Its DWS rows end with an anchor row at the
  * boundary, so DwsSkuOrderApp leaves it with its watermark 2 s before
  * the boundary. The second release is the rest of the DWS topic: a
  * share of orders sits in the second just before the boundary, and
  * their DWS rows are held back to it, so they arrive after a newer row,
  * inside the 2 s watermark, and must not be dropped as late; flusher
  * rows then close every window. After timing, every output is checked
  * against its batch twin. */
object OdsStream {
  /** topic_log events per slice: the 5,000-event batch of the
    * mart-tier sizing, 1/20 of sf0.1's `events` table. */
  val Events = 5000
  /** sf0.1's `events` rate: 100,000 events over 30 days. */
  val MeanGapUs: Double = 30.0 * 86400 * 1e6 / 100000
  /** sf0.1's `events` has 1,500 distinct users. */
  val Users = 1500
  /** Skus are sf0.1's `part` keys. */
  val Skus = 20000
  /** Provinces of the reference's `base_province`. */
  val Provinces = 34
  /** Every 20th order is placed just before the DWS boundary and its
    * DWS rows are held back to the second release. */
  val HeldEvery = 20
  val LogStartUs = 1704067200000000L  // 2024-01-01T00:00:00Z, as sf0.1's `events`

  val Topics: Seq[String] = Seq("db", "detail", "info", "activity", "coupon", "dws", "log")

  /** Dim routing rules: source table → (sink table, whitelisted columns). */
  val Rules: Map[String, (String, Seq[String])] = Map(
    "base_province" -> ("dim_base_province", Seq("name", "region_id")),
    "sku_info" -> ("dim_sku_info", Seq("sku_name", "price", "tm_id")),
    "user_info" -> ("dim_user_info", Seq("name", "level")))

  val LogSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  final case class DimChange(table: String, id: Long, ts: Long, op: String,
                             data: Map[String, String])

  /** The generated slice: the lines of each topic file of each release,
    * every dim change (the DIM check's model), the number of held-back
    * rows, and the flusher's event time (seconds). */
  final case class Slice(releases: Seq[Map[String, Seq[String]]], dims: Seq[DimChange],
                         held: Int, far: Long) {
    def events(i: Int): Long = releases(i).values.map(_.size.toLong).sum
  }

  /** Generate one slice from `seed`.
    *
    * topic_log: [[Events]] events at sf0.1's mean rate (exponential
    * gaps), user ids below [[Users]], the five event types equally
    * likely (as in sf0.1), in (ts, event_id) order.
    *
    * topic_db, derived from the log (an order placement or a signup is
    * both a log event and a database change): one order per `purchase`
    * event at its time and user, with 1–7 details (TPC-H's lineitems
    * per order, mean 4, as sf0.1's `lineitem`/`orders`) on uniform
    * skus; an activity for 30 % and a coupon for 20 % of details, up
    * to 9 s after the detail; 10 % of DWS rows re-emitted. Dim
    * changes: the 34 provinces; one `user_info` insert per `signup`,
    * with an update for every 10th and a delete for every 25th user;
    * one `sku_info` insert the second before a sku is first ordered,
    * with a price update for every 10th; one `cart_info` insert per
    * `click` (no routing rule: the router drops it); a `bootstrap-start`
    * (dropped). The shares are the benchmark's own choice.
    *
    * The DWS boundary is the second of the middle log event. DWS rows up
    * to it go to the first release and later ones to the second, as do
    * the DWS rows of the held-back orders (every [[HeldEvery]]th),
    * placed 1 s before the boundary. Every other topic goes whole into
    * the first release. */
  def generate(seed: Long): Slice = {
    val r = new SplittableRandom(seed)
    var us = LogStartUs
    val log = (0 until Events).map { e =>
      us += (-math.log(1 - r.nextDouble()) * MeanGapUs).toLong
      (e.toLong, us, r.nextInt(Users).toLong, Gen.EventTypes(r.nextInt(5)),
        math.rint((0.01 - math.log(1 - r.nextDouble()) * 50) * 100) / 100)
    }
    val cut = log(Events / 2 - 1)._2 / 1000000L

    // (topic, event time, line, held back)
    val trade = mutable.ArrayBuffer[(String, Long, String, Boolean)]()
    val dims = mutable.ArrayBuffer[DimChange]()
    val lastTs = mutable.Map[(String, Long), Long]()
    def change(table: String, id: Long, ts0: Long, op: String,
               data: Map[String, String]): Unit = {
      val ts = math.max(ts0, lastTs.getOrElse((table, id), Long.MinValue) + 1)
      lastTs((table, id)) = ts
      dims += DimChange(table, id, ts, op, data)
    }
    def user(id: Long) = Map("id" -> id.toString, "name" -> s"user_${r.nextInt(5000)}",
      "level" -> r.nextInt(5).toString, "phone" -> s"138${r.nextInt(100000000)}")
    def sku(id: Long) = Map("id" -> id.toString, "sku_name" -> s"sku_${r.nextInt(1000)}",
      "price" -> (r.nextInt(100000) / 100.0).toString, "tm_id" -> r.nextInt(20).toString,
      "noise" -> "x")

    val t0 = LogStartUs / 1000000L
    (0 until Provinces).foreach { p =>
      change("base_province", p, t0, "insert", Map("id" -> p.toString,
        "name" -> s"province_$p", "region_id" -> (p % 7).toString, "area_code" -> s"${100 + p}"))
    }
    var users, carts, orders, details, skusSeen = 0L
    val skuKnown = mutable.Set[Long]()
    log.foreach { case (_, tsUs, uid, kind, _) =>
      val t = tsUs / 1000000L
      kind match {
        case "signup" =>
          val id = users; users += 1
          change("user_info", id, t, "insert", user(id))
          if (id % 10 == 9) change("user_info", id, t + 1 + r.nextInt(600), "update", user(id))
          if (id % 25 == 24) change("user_info", id, t + 601 + r.nextInt(600), "delete", user(id))
        case "click" =>
          val id = carts; carts += 1
          change("cart_info", id, t, "insert", Map("id" -> id.toString,
            "sku_id" -> r.nextInt(Skus).toString))
        case "purchase" =>
          val o = orders; orders += 1
          val held = o % HeldEvery == HeldEvery - 1
          val oTs = if (held) cut - 1 else t
          trade += (("info", oTs, Json.obj("o_id" -> o, "user_id" -> uid,
            "province_id" -> r.nextInt(Provinces).toLong, "o_ts" -> oTs), held))
          (0 to r.nextInt(7)).foreach { _ =>
            val d = details; details += 1
            val dTs = oTs + r.nextInt(3)
            val s = r.nextInt(Skus).toLong
            if (skuKnown.add(s)) {
              change("sku_info", s, oTs - 1, "insert", sku(s))
              skusSeen += 1
              if (skusSeen % 10 == 0) change("sku_info", s, dTs + 1 + r.nextInt(600), "update", sku(s))
            }
            val amount = (1 + r.nextInt(400)) * 0.25 // exact in binary: sums are order-free
            trade += (("detail", dTs, Json.obj("order_detail_id" -> d, "order_id" -> o,
              "sku_id" -> s, "amount" -> amount, "d_ts" -> dTs), held))
            if (r.nextInt(10) < 3) {
              val at = dTs + r.nextInt(10)
              trade += (("activity", at, Json.obj("a_order_detail_id" -> d,
                "activity_id" -> (1 + r.nextInt(20)).toLong, "a_ts" -> at), held))
            }
            if (r.nextInt(10) < 2) {
              val ct = dTs + r.nextInt(10)
              trade += (("coupon", ct, Json.obj("c_order_detail_id" -> d,
                "coupon_id" -> (1 + r.nextInt(50)).toLong, "c_ts" -> ct), held))
            }
            val line = Json.obj("order_detail_id" -> d, "sku" -> s, "amount" -> amount,
              "ts_sec" -> dTs)
            trade += (("dws", dTs, line, held))
            if (r.nextInt(10) == 0) trade += (("dws", dTs, line, held)) // upstream re-emit
          }
        case _ =>
      }
    }
    val db = dims.sortBy(_.ts).map { c =>
      c.ts -> Json.obj("database" -> "gmall", "table" -> c.table, "type" -> c.op,
        "ts" -> c.ts, "data" -> c.data)
    } :+ (t0 -> Json.obj("database" -> "gmall", "table" -> "user_info",
      "type" -> "bootstrap-start", "ts" -> t0, "data" -> Map.empty[String, String]))

    // Rows on the watermarked streams that join nothing: the DWS anchor
    // at the boundary ends the first release's DWS rows; the flushers far
    // after every row advance the watermark past every open window and
    // join (for DWD in the first release, for DWS in the second).
    val far = (trade.map(_._2) ++ dims.map(_.ts)).max + 7200
    def marks(ts: Long, id: Long) = Seq(
      "detail" -> Json.obj("order_detail_id" -> id, "order_id" -> id, "sku_id" -> -1L,
        "amount" -> 0.0, "d_ts" -> ts),
      "info" -> Json.obj("o_id" -> (id - 1), "user_id" -> 0L, "province_id" -> 0L, "o_ts" -> ts),
      "activity" -> Json.obj("a_order_detail_id" -> (id - 2), "activity_id" -> 0L, "a_ts" -> ts),
      "coupon" -> Json.obj("c_order_detail_id" -> (id - 3), "coupon_id" -> 0L, "c_ts" -> ts),
      "dws" -> Json.obj("order_detail_id" -> (id - 4), "sku" -> -1L, "amount" -> 0.0,
        "ts_sec" -> ts))
    val logLines = log.map { case (e, tsUs, uid, kind, v) =>
      Json.obj("event_id" -> e, "ts_us" -> tsUs, "user_id" -> uid, "event_type" -> kind,
        "value" -> v)
    }
    def files(rows: Seq[(String, Long, String)], logPart: Seq[String]) =
      Topics.map(t => t -> (if (t == "log") logPart
        else rows.filter(_._1 == t).sortBy(_._2).map(_._3))).toMap
    val (dwsRows, dwdRows) = trade.toSeq.partition(_._1 == "dws")
    val (early, late) = dwsRows.partition { case (_, ts, _, held) => ts <= cut && !held }
    val flush = marks(far, -1)
    val first = files(dwdRows.map(x => (x._1, x._2, x._3)) ++
        db.map(x => ("db", x._1, x._2)) ++
        flush.filter(_._1 != "dws").map { case (t, l) => (t, far, l) } ++
        early.map(x => (x._1, x._2, x._3)) ++
        marks(cut, -11).filter(_._1 == "dws").map { case (t, l) => (t, cut, l) },
      logLines)
    val second = Map("dws" -> (late.sortBy(_._2).map(_._3) ++ flush.filter(_._1 == "dws").map(_._2)))
    Slice(Seq(first, second), dims.toSeq, dwsRows.count(_._4), far)
  }

  val Views: Seq[(String, (SparkSession, String) => DataFrame, DataFrame => DataFrame)] = Seq(
    ("dailyUv", EventMartStream.dailyUv, CoreQueries.dailyUvFrom),
    ("transitions", EventMartStream.transitions, CoreQueries.transitionsFrom),
    ("ohlc", EventMartStream.ohlc, CoreQueries.ohlcFrom),
    ("sessionPaths", EventMartStream.sessionPaths, CoreQueries.sessionPathsFrom),
    ("decayScores", EventMartStream.decayScores, CoreQueries.decayScoresFrom))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val root = s"${ctx.work}/ods"
    def srcDir(t: String) = s"$root/src/$t"
    val out = Map("dim" -> s"$root/out/dim", "dwd" -> s"$root/out/dwd",
      "dws" -> s"$root/out/dws", "mart" -> s"$root/out/mart")
    def ckpt(app: String) = s"$root/ckpt/$app"
    val config = s"$root/config"
    val dimSku = s"$root/dim_sku"

    // ---- set-up: generate and stage both releases, write the dim
    // routing config and the sku dim (shaped like sf0.1's `part`)
    val slice = generate(ctx.seed)
    val sizes = mutable.Map[(String, Int), Long]()
    def stagePath(t: String, i: Int) = f"$root/stage/$t/release-$i%d.json"
    slice.releases.zipWithIndex.foreach { case (files, i) =>
      files.foreach { case (t, ls) => sizes((t, i)) = Gen.writeLines(stagePath(t, i), ls) }
    }
    Topics.foreach(t => Files.createDirectories(Paths.get(srcDir(t))))
    import spark.implicits._
    Rules.toSeq.map { case (t, (sink, cols)) => (t, sink, cols.mkString(", ")) }
      .toDF("table", "sink_table", "columns").coalesce(1).write.parquet(config)
    val skuRows = Gen.frame(spark, (0 until Skus).map(s => Row(s.toLong,
        s"sku_name_${s % 97}", s"Brand#${1 + s % 5}${1 + s / 5 % 5}")),
      StructType(Seq(StructField("sku", LongType), StructField("sku_name", StringType),
        StructField("brand", StringType))))
    skuRows.coalesce(1).write.parquet(dimSku)

    def release(i: Int): Long = slice.releases(i).keys.toSeq.map { t =>
      Files.move(Paths.get(stagePath(t, i)), Paths.get(f"${srcDir(t)}/release-$i%d.json"),
        StandardCopyOption.ATOMIC_MOVE)
      sizes((t, i))
    }.sum
    def logFrame(path: String): DataFrame =
      spark.read.schema(LogSchema).json(path)
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("event_id"), col("event_type"), col("value"))
    val appWalls = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def app[T](name: String, call: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try ctx.tracer.span(s"apps.$name.$call")(body)
      finally appWalls.getOrElseUpdate(name, mutable.ArrayBuffer()) +=
        (System.nanoTime() - t0) / 1e9
    }
    /** Run the trade apps whose topics the release carries. */
    def trade(topics: Set[String]): Unit = {
      if (topics("db")) app("DimRouterApp", "run")(
        DimRouterApp.run(spark, srcDir("db"), config, out("dim"), ckpt("dim")))
      if (topics("detail")) app("DwdOrderDetailApp", "run")(
        DwdOrderDetailApp.run(spark, srcDir("detail"), srcDir("info"), srcDir("activity"),
          srcDir("coupon"), out("dwd"), ckpt("dwd")))
      if (topics("dws")) app("DwsSkuOrderApp", "run")(
        DwsSkuOrderApp.run(spark, srcDir("dws"), dimSku, out("dws"), ckpt("dws")))
    }
    def traffic(i: Int): Unit =
      app("EventMartStream", "processBatch")(
        EventMartStream.processBatch(logFrame(f"${srcDir("log")}/release-$i%d.json"),
          i.toLong, out("mart")))
    def readView(name: String, view: (SparkSession, String) => DataFrame): Unit =
      ctx.tracer.span(s"apps.EventMartStream.$name") {
        val df = ctx.tracer.span("queries.build")(view(spark, out("mart")))
        ctx.tracer.span("queries.execute")(df.write.format("noop").mode("overwrite").save())
      }

    ctx.mark("generate_and_stage")
    ctx.liveDirs = out.values.toSeq ++ Seq(s"$root/ckpt")

    // ---- timed closed loop: release, the trade apps, processBatch; then
    // the dashboard refreshes (every mart view read once) for the run's
    // seconds
    val tradeLat, trafficLat, martLat = mutable.ArrayBuffer[Double]()
    var attempted, failed, events = 0L
    var lastCommit, releaseJobs = 0L
    var broken = Option.empty[String]
    ctx.begin()
    try {
      slice.releases.indices.foreach { i =>
        val topics = slice.releases(i).keySet
        val t0 = System.nanoTime()
        ctx.tracer.span("ods.release") {
          ctx.inputBytes += ctx.tracer.span("release")(release(i))
          attempted += Seq("db", "detail", "dws").count(topics)
          trade(topics)
          tradeLat += (System.nanoTime() - t0) / 1e9
          if (topics("log")) { attempted += 1; traffic(i) }
        }
        lastCommit = System.nanoTime()
        events += slice.events(i)
        if (topics("log")) trafficLat += (lastCommit - t0) / 1e9
      }
      // traced: the Spark jobs of the releases, before the dashboard's
      releaseJobs = ctx.probe.fold(0L) { p => ListenerDrain(spark); p.jobs.get }
      while ((System.nanoTime() - lastCommit) / 1e9 < ctx.seconds) {
        attempted += Views.size
        val t1 = System.nanoTime()
        ctx.tracer.span("ods.dashboard")(Views.foreach { case (n, v, _) => readView(n, v) })
        martLat += (System.nanoTime() - t1) / 1e9
      }
    } catch {
      case NonFatal(e) =>
        failed += 1
        broken = Some(String.valueOf(e.getMessage).take(300))
    }
    val firstRelease = ctx.windowStart
    ctx.end()
    val done = tradeLat.size
    val walls = appWalls.map { case (k, v) => k -> v.toSeq }.toMap

    // ---- check every output against its batch twin
    val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
    def check(name: String)(body: => (Boolean, String)): Unit =
      checks += (try { val (ok, why) = body; (name, ok, why) } catch {
        case NonFatal(e) => (name, false, "error: " + String.valueOf(e.getMessage).take(300))
      })
    def compare(g: Seq[String], w: Seq[String]): (Boolean, String) =
      (g == w, if (g == w) s"${w.size} rows"
               else s"got ${g.size} rows, want ${w.size}; first diff " +
                 g.diff(w).take(1).mkString + " / " + w.diff(g).take(1).mkString)
    def sameRows(got: DataFrame, want: DataFrame, wantRows: Seq[String]): (Boolean, String) =
      compare(Digest.rows(got.select(want.columns.toIndexedSeq.map(c => got.col(s"`$c`")): _*)).sorted,
        wantRows)
    def sameAs(got: DataFrame, want: DataFrame) = sameRows(got, want, Digest.rows(want).sorted)
    if (broken.isEmpty) {
      def json(t: String, schema: StructType, tsCol: String, rt: String) =
        spark.read.schema(schema).json(srcDir(t)).withColumn(rt, timestamp_seconds(col(tsCol)))
      check("dwd == assemble(batch)") {
        val want = DwdOrderDetailApp.assemble(
          json("detail", DwdOrderDetailApp.detailSchema, "d_ts", "dts"),
          json("info", DwdOrderDetailApp.infoSchema, "o_ts", "ots"),
          json("activity", DwdOrderDetailApp.activitySchema, "a_ts", "ats"),
          json("coupon", DwdOrderDetailApp.couponSchema, "c_ts", "cts"))
        sameAs(spark.read.parquet(out("dwd")), want)
      }
      check("dws == aggregate(batch)") {
        // DwsSkuOrderApp.aggregate with its watermark dedup replaced by
        // the plain dedup: Spark refuses dropDuplicatesWithinWatermark on
        // a batch frame ("not supported with batch DataFrames"). The
        // flusher's own window never closes.
        val parsed = json("dws", DwsSkuOrderApp.inputSchema, "ts_sec", "rt")
          .filter(col("ts_sec") < slice.far)
        val want = graft.operators.WindowOps.withWindowMeta(
          parsed.dropDuplicates("order_detail_id")
            .groupBy(window(col("rt"), "10 minutes"), col("sku"))
            .agg(count(lit(1)).as("n_orders"), sum(col("amount")).as("amount")))
          .join(spark.read.parquet(dimSku), Seq("sku"), "left")
        sameAs(spark.read.parquet(out("dws")), want)
      }
      check("dim == last change per key") {
        val last = mutable.Map[(String, Long), DimChange]()
        slice.dims.foreach { c =>
          if (last.get((c.table, c.id)).forall(_.ts < c.ts)) last((c.table, c.id)) = c
        }
        val results = Rules.toSeq.map { case (t, (sink, cols)) =>
          val want = last.values.collect { case c if c.table == t && c.op != "delete" =>
            Digest.cell(c.data.filter { case (k, _) => cols.contains(k) }) + s"|${c.id}" }
            .toSeq.sorted
          val got = Digest.rows(DimRouterApp.readDim(spark, s"${out("dim")}/$sink")
            .select("id", "data")).sorted
          (sink, got == want, s"$sink got ${got.size} want ${want.size}" +
            (if (got == want) "" else ": " + got.diff(want).take(1).mkString +
              " / " + want.diff(got).take(1).mkString))
        }
        (results.forall(_._2), results.map(_._3).mkString("; "))
      }
      val consumed = logFrame(srcDir("log"))
      Views.foreach { case (n, v, from) =>
        check(s"mart $n == CoreQueries from consumed events") {
          // the batch twin is the CoreQueries frame function itself
          val (want, wantRows) = ctx.tracer.span("queries.CoreQueries") {
            val w = from(consumed); (w, Digest.rows(w).sorted) }
          sameRows(v(spark, out("mart")), want, wantRows)
        }
      }
      check("no late rows dropped") {
        // every progress event of the runs delivered before it is read
        ListenerDrain(spark)
        val late = ctx.streams.lateRowsDropped
        (late == 0, s"$late rows dropped by the watermark; " +
          s"${slice.held} rows released after a newer row")
      }
    } else checks += (("pipeline", false, broken.get))

    val span = math.max(1L, lastCommit - firstRelease) / 1e9
    val rate = events / span
    def med(xs: Iterable[Double]) = Stats.median(xs.toSeq)
    val layers: Map[String, (Double, String)] =
      if (!ctx.trace) Map.empty
      else {
        val runWall = Seq("DimRouterApp", "DwdOrderDetailApp", "DwsSkuOrderApp")
          .flatMap(a => walls.getOrElse(a, Nil)).sum
        val names = ctx.tracer.byName()
        ctx.streams.metrics(runWall).map { case (k, v) => k -> (v, Main.unitOf(k)) } ++
          Seq("DimRouterApp" -> "run", "DwdOrderDetailApp" -> "run",
            "DwsSkuOrderApp" -> "run", "EventMartStream" -> "processBatch").map {
            case (a, f) => s"apps.$a.${f}_s" -> (med(walls.getOrElse(a, Nil)), "s") } ++
          Views.map { case (n, _, _) =>
            val (c, t, _) = names.getOrElse(s"apps.EventMartStream.$n", (1, 0.0, 0.0))
            s"apps.EventMartStream.${n}_s" -> (t / math.max(1, c), "s") } ++
          Map("queries.CoreQueries.wall_s" ->
            (names.get("queries.CoreQueries").map(_._2).getOrElse(0.0), "s")) ++
          Map("spark.jobs_per_batch" ->
            (releaseJobs.toDouble / math.max(1, done), "count"))
      }
    Outcome(
      attempted = attempted, failed = failed, checks = checks.toSeq,
      e2e = Map(
        "write_p50_s" -> (med(tradeLat), "s"),
        "read_p50_s" -> (med(martLat), "s"),
        "throughput_per_s" -> (rate, "1/s")),
      workloadMetrics = Map(
        "events_per_s" -> (rate, "events/s"),
        "trade_latency_p50_s" -> (med(tradeLat), "s"),
        "traffic_latency_p50_s" -> (med(trafficLat), "s"),
        "dashboard_read_p50_s" -> (med(martLat), "s"),
        "releases" -> (done.toDouble, "count"),
        "events_released" -> (events.toDouble, "count"),
        "rows_held_back" -> (slice.held.toDouble, "count")) ++ layers,
      samples = Map("release" -> done, "dashboard_read" -> martLat.size),
      notes = Map("app_calls_s" -> walls, "dashboard_s" -> martLat.toSeq))
  }
}
