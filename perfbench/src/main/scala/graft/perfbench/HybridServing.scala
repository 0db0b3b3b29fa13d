package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.apps.{HybridSearchApp, TextIndexApp, VectorIndexApp}
import graft.functions.TextFunctions
import graft.operators.SimilarityOps
import graft.queries.TextQueries

/** `hybrid_serving`: set-up builds TextIndexApp and VectorIndexApp over
  * a seeded prefix of the corpus and publishes the hybrid group, then
  * warms up with one search and the first held-back chunk's append.
  * Timed: while the run's seconds last, one client runs cycles of a
  * group-pinned HybridSearchApp.query (seeded probe ids) and a
  * HybridSearchApp.append of the next held-back chunk. The final search
  * is checked against the RRF of from-scratch arms over the indexed
  * docs.
  *
  * The corpus has the size of sf0.1's `embeddings` (2,000 64-d
  * vectors), one document per vector; the first half is built and the
  * second half is held back in chunks of 1 % of the corpus, enough for
  * 49 timed appends (a 10 s run on 4 cores makes two). A call after the
  * chunks run out counts as failed, so the search/append mix cannot
  * change silently. */
object HybridServing {
  val Docs = 2000
  val Built = 1000
  val Chunk = 20
  val Probes = 4
  val (topK, armK, k0, nprobe, rerankK) = (5, 20, 60, 2, 40)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val root = s"${ctx.work}/hybrid"
    val (text, vec, group) = (s"$root/text", s"$root/vec", s"$root/group")

    // ---- set-up: corpus, held-back chunks, both indexes, the group
    val (docRows, embRows) = Gen.corpus(ctx.seed, Docs)
    def save(rows: Seq[Row], schema: StructType, path: String): DataFrame = {
      Gen.frame(spark, rows, schema).coalesce(1).write.parquet(path)
      spark.read.parquet(path)
    }
    val docsAll = save(docRows, Gen.DocSchema, s"$root/input/docs")
    val embsAll = save(embRows, Gen.EmbSchema, s"$root/input/embs")
    def range(from: Int, to: Int) =
      (docsAll.filter(col("doc_id") >= from && col("doc_id") < to),
        embsAll.filter(col("vec_id") >= from && col("vec_id") < to))
    val (builtDocs, builtEmbs) = range(0, Built)
    // the held-back chunks, appended in id order (both arms refuse a
    // delta below their watermark)
    val chunks = (Built until Docs by Chunk).map(from => (from, math.min(Docs, from + Chunk)))
    val bytesPerDoc = FsStats.live(Seq(s"$root/input"))._2.toDouble / Docs
    ctx.mark("generate_and_stage")
    TextIndexApp.build(spark, builtDocs, text, nBuckets = 16)
    VectorIndexApp.build(spark, builtEmbs, vec, kCells = 8, iters = 2)
    HybridSearchApp.commitGroup(spark, text, vec, group)
    ctx.mark("build_indexes")
    ctx.liveDirs = Seq(text, vec, group)

    val rnd = new java.util.SplittableRandom(ctx.seed ^ 0x5eed)
    def probes(): Seq[Long] = Seq.fill(Probes)(rnd.nextInt(Built).toLong).distinct.sorted
    def search(ids: Seq[Long]): Array[Row] =
      ctx.tracer.span("apps.HybridSearchApp.query") {
        val df = ctx.tracer.span("queries.build")(HybridSearchApp.query(spark, ids,
          docsAll, embsAll, text, vec, topK, armK, k0, nprobe, rerankK, Some(group)))
        ctx.tracer.span("queries.execute")(df.collect())
      }

    // warm-up: one search and the first chunk's append cycle, untimed
    search(probes())
    val (warmDocs, warmEmbs) = range(chunks.head._1, chunks.head._2)
    HybridSearchApp.append(spark, warmDocs, warmEmbs, text, vec, group)
    ctx.mark("warm_up")

    // ---- timed closed loop: cycles of one search and one append; a
    // cycle that starts is finished, so the mix does not depend on speed
    val searchLat, appendLat = mutable.ArrayBuffer[Double]()
    val textArm, vecArm = mutable.ArrayBuffer[Double]()
    var attempted, failed = 0L
    var appended = 1
    def timed(lat: mutable.ArrayBuffer[Double])(body: => Unit): Unit = {
      attempted += 1
      val t0 = System.nanoTime()
      try { body; lat += (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(_) => failed += 1 }
    }
    ctx.begin()
    while (ctx.timeLeft) {
      val ids = probes()
      timed(searchLat)(ctx.tracer.span("hybrid.search")(search(ids)))
      if (ctx.trace) try ctx.tracer.span("hybrid.arms") {
        // each arm's public query on its own, for the same probes
        val t1 = System.nanoTime()
        ctx.tracer.span("apps.TextIndexApp.query")(TextIndexApp.query(spark,
          docsAll.filter(col("doc_id").isin(ids: _*))
            .select(col("doc_id").as("q_id"), col("text")), text, armK).collect())
        val t2 = System.nanoTime()
        ctx.tracer.span("apps.VectorIndexApp.query")(VectorIndexApp.query(spark,
          embsAll, vec, col("vec_id").isin(ids: _*), armK, nprobe, rerankK).collect())
        textArm += (t2 - t1) / 1e9
        vecArm += (System.nanoTime() - t2) / 1e9
      } catch { case NonFatal(_) => failed += 1 }
      timed(appendLat) {
        if (appended == chunks.size) sys.error("the held-back chunks ran out")
        val (from, to) = chunks(appended)
        val (d, e) = range(from, to)
        ctx.tracer.span("hybrid.append")(ctx.tracer.span("apps.HybridSearchApp.append")(
          HybridSearchApp.append(spark, d, e, text, vec, group)))
        ctx.inputBytes += ((to - from) * bytesPerDoc).toLong
        appended += 1
      }
    }
    ctx.end()

    // ---- check: the final search equals the fusion of from-scratch arms
    val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
    try {
      val indexed = chunks(appended - 1)._2
      val ids = (0 until 10).map(_ => rnd.nextInt(indexed).toLong).distinct.sorted
      val got = Digest.rows(HybridSearchApp.query(spark, ids, docsAll, embsAll,
        text, vec, topK, armK, k0, nprobe, rerankK, Some(group))).sorted
      val want = Digest.rows(fromScratch(spark,
        docsAll.filter(col("doc_id") < indexed), embsAll.filter(col("vec_id") < indexed),
        spark.read.parquet(s"$vec/centroids"), ids)).sorted
      checks += (("search == rrf(from-scratch arms)", got == want,
        s"${got.size} rows over $indexed docs"))
    } catch {
      case NonFatal(e) =>
        checks += (("search == rrf(from-scratch arms)", false,
          "error: " + String.valueOf(e.getMessage).take(300)))
    }

    val calls = searchLat.size + appendLat.size
    val layers: Map[String, (Double, String)] =
      if (!ctx.trace) Map.empty
      else Map(
        "apps.HybridSearchApp.query_s" -> (Stats.median(searchLat.toSeq), "s"),
        "apps.HybridSearchApp.append_s" -> (Stats.median(appendLat.toSeq), "s"),
        "apps.TextIndexApp.query_s" -> (Stats.median(textArm.toSeq), "s"),
        "apps.VectorIndexApp.query_s" -> (Stats.median(vecArm.toSeq), "s"))
    Outcome(
      attempted = attempted, failed = failed, checks = checks.toSeq,
      e2e = Map(
        "write_p50_s" -> (Stats.median(appendLat.toSeq), "s"),
        "read_p50_s" -> (Stats.median(searchLat.toSeq), "s"),
        "throughput_per_s" -> (calls / ctx.windowS, "1/s")),
      workloadMetrics = Map(
        "search_p50_s" -> (Stats.median(searchLat.toSeq), "s"),
        "append_p50_s" -> (Stats.median(appendLat.toSeq), "s"),
        "searches" -> (searchLat.size.toDouble, "count"),
        "appends" -> (appendLat.size.toDouble, "count")) ++ layers,
      samples = Map("search" -> searchLat.size, "append" -> appendLat.size),
      notes = Map("search_s" -> searchLat.toSeq, "append_s" -> appendLat.toSeq))
  }

  /** RRF of the two arms computed with no index, as HybridSearchSpec
    * does: BM25 over freshly tokenized docs, and the in-memory IVF
    * quantized ANN with the index's stored (frozen) codebook. */
  def fromScratch(spark: SparkSession, docs: DataFrame, corpus: DataFrame,
                  cents: DataFrame, ids: Seq[Long]): DataFrame = {
    val lens = docs.select(col("doc_id"), TextFunctions.wordCount(col("text")).as("len"))
    val tf = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(TextFunctions.normalized(col("text")))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val qterms = tf.filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id").as("q_id"), col("token"))
    val lex = TextQueries.bm25Rank(tf, qterms, df, lens, armK)
      .select(col("q_id"), col("doc_id").as("id"), col("rnk").as("rank"))
    val dense = SimilarityOps.ivfQuantizedAnn(corpus, cents,
        col("vec_id").isin(ids: _*), armK, nprobe, rerankK)
      .select(col("q_id"), col("vec_id").as("id"), col("rank"))
    SimilarityOps.rrfFuse(lex, dense, k0, topK)
      .select(col("q_id"), col("id").as("doc_id"), col("rnk"), col("rrf_score"))
  }
}
