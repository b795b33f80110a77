package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.functions.functions.{nearest_center, porter_stem, shingle_minhash}
import graft.functions.PresenceVectorAgg.presence_vector

/** Layer probes: each times one public call of a module on input the
  * benchmark has cached, so the module's own cost is seen without the
  * rest of the pipeline around it. Every time is the median of three.
  */
object Probes {
  /** The metrics of `apply`; workloads that do not run the probes report 0. */
  val layers: Seq[String] = Seq("sources.list_s", "sources.read_s", "text.tokens_s",
    "index.matrix_s", "cluster.assign_s", "sources.write_s", "sources.bytes_written",
    "functions.porter_stem_ns_per_row", "functions.presence_vector_ns_per_row",
    "functions.nearest_center_ns_per_row", "functions.minhash_ns_per_row")

  private def time(body: => Any): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    })

  private def run(df: DataFrame): Long = df.queryExecution.toRdd.count()

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  /** Times sources, text, index, cluster and the codegen kernels over
    * corpus `c`; `texts` feeds the MinHash kernel.
    */
  def apply(spark: SparkSession, c: CorpusSpec, texts: Seq[String],
            workDir: String): Map[String, Double] = {
    import spark.implicits._
    val out = s"$workDir/probe-tsv"
    val (docs, _) = cached(graft.sources.Corpus.readDocs(spark, c.docsDir))
    val stop = graft.sources.Corpus.readStopwords(spark, c.stopwords)
    val (tokens, _) = cached(graft.text.Normalize.tokens(docs, stopwords = stop))
    val (matrix, _) = cached(graft.index.InvertedIndex.termDocMatrixFast(tokens, c.docs, 1L))
    val (points, nPoints) = cached(matrix.select(col("term").as("id"),
      col("vec").cast("array<double>").as("vec")))
    val (centers, _) = cached(graft.sources.Corpus.readCenters(spark, c.centers))
    val formatted = graft.index.InvertedIndex.referenceFormat(matrix)
    val m = Map(
      "sources.list_s" -> time(graft.sources.Corpus.fileCount(spark, c.docsDir)),
      "sources.read_s" -> time(run(graft.sources.Corpus.readDocs(spark, c.docsDir))),
      "text.tokens_s" -> time(run(graft.text.Normalize.tokens(docs, stopwords = stop))),
      "index.matrix_s" -> time(run(
        graft.index.InvertedIndex.termDocMatrixFast(tokens, c.docs, 1L))),
      "cluster.assign_s" -> time(run(graft.cluster.KMeansAssign.clusters(
        graft.cluster.KMeansAssign.assign(points, centers)))),
      "sources.write_s" -> time(graft.sources.Sinks.writeTsv(formatted, out)),
      "sources.bytes_written" -> Proc.dirBytes(new File(out))._2.toDouble)

    // kernels: each over a cached column, replicated to ~100 ms of work
    def nsPerRow(df: DataFrame, rows: Long)(k: DataFrame => DataFrame): Double =
      time(run(k(df))) * 1e9 / rows
    val (words, nWords) = cached(docs.select(explode(split(col("text"), "\\s+")).as("tok"))
      .crossJoin(spark.range(8)).select(lower(col("tok")).as("tok")))
    val (pairs, nPairs) = cached(tokens.crossJoin(spark.range(8))
      .select((col("doc_id") + col("id") * c.docs).as("doc_id"), col("term")))
    val centerArr = centers.orderBy("center_id").select("cvec").as[Seq[Double]]
      .collect().map(_.toArray)
    val (vecs, nVecs) = cached(points.crossJoin(spark.range(4)).select(col("vec")))
    val (textCol, nTexts) = cached(texts.toDF("text").crossJoin(spark.range(4))
      .select(col("text")))
    val kernels = Map(
      "functions.porter_stem_ns_per_row" ->
        nsPerRow(words, nWords)(_.select(porter_stem(col("tok")))),
      "functions.presence_vector_ns_per_row" ->
        nsPerRow(pairs, nPairs)(_.groupBy(col("term"))
          .agg(presence_vector(col("doc_id"), c.docs * 8, 1L))),
      "functions.nearest_center_ns_per_row" ->
        nsPerRow(vecs, nVecs)(_.select(nearest_center(col("vec"), centerArr))),
      "functions.minhash_ns_per_row" ->
        nsPerRow(textCol, nTexts)(_.select(shingle_minhash(col("text"), 32, 3))))
    Seq(docs, tokens, matrix, points, centers, words, pairs, vecs, textCol)
      .foreach(_.unpersist(blocking = true))
    Proc.deleteTree(new File(out))
    require(nPoints > 0, "probe corpus produced no terms")
    m ++ kernels
  }
}

final case class InDoc(doc_id: Long, ts: Timestamp, text: String)

/** The streaming layer probe: a seeded stream with injected re-posts,
  * replayed in fixed-size micro-batches, first through the stateful LSH
  * gate, then through exact dedup on ingest. Each micro-batch is one op
  * of `rec`, timed from offer to commit and checked against the injected
  * re-posts: every exact re-post is flagged and dropped, and no first
  * occurrence is dropped.
  */
final class StreamProbe(docs: Seq[InDoc], batch: Int, exact: Map[Long, Long],
                        near: Map[Long, Long], workDir: String) {
  private var runSeq = 0
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
  }

  /** Warms both queries up on one micro-batch, then replays the stream
    * into `rec`; returns the streaming layer's figures.
    */
  def apply(spark: SparkSession, rec: PassRec): Map[String, Double] = {
    replay(spark, docs.take(batch), None)
    spark.streams.addListener(listener)
    try replay(spark, docs, Some(rec))
    finally {
      org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    val ev = progress.synchronized(progress.toVector)
    def dur(k: String) =
      ev.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val ops = ev.flatMap(_.stateOperators)
    def maxOf(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      if (ops.isEmpty) 0.0 else ops.map(f).max.toDouble
    Map("streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.state_rows" -> maxOf(_.numRowsTotal),
      "streaming.state_bytes" -> maxOf(_.memoryUsedBytes),
      "streaming.history_files" -> rec.extra.getOrElse("history_files", 0.0),
      "streaming.history_bytes" -> rec.extra.getOrElse("history_bytes", 0.0),
      "dedup.candidate_precision" -> rec.extra.getOrElse("candidate_precision", 0.0))
  }

  private def replay(spark: SparkSession, in: Seq[InDoc], rec: Option[PassRec]): Unit = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    runSeq += 1
    val dir = s"$workDir/stream-$runSeq"
    val batches = in.grouped(batch).toVector
    def offer(label: String, mem: MemoryStream[InDoc], q: StreamingQuery): Seq[Int] =
      try batches.map { b =>
        rec match {
          case Some(r) => r.op(label) { id =>
              r.tracer.phase(id, "run") { mem.addData(b); q.processAllAvailable() }
            }._1
          case None => mem.addData(b); q.processAllAvailable(); -1
        }
      } finally q.stop()

    val table = s"anchors_$runSeq"
    val mem1 = MemoryStream[InDoc]
    val lshOps = offer("lsh_batch", mem1, graft.streaming.NearDupStream
      .lshBucketAnchors(spark, mem1.toDF())
      .writeStream.format("memory").queryName(table).outputMode("append").start())
    val mem2 = MemoryStream[InDoc]
    val dedupOps = offer("dedup_batch", mem2, graft.streaming.NearDupStream
      .dedupOnIngest(mem2.toDF(), "text", s"$dir/history", s"$dir/out", s"$dir/ckpt"))

    rec.foreach { r =>
      val t0 = System.nanoTime()
      val c0 = Proc.cpuS()
      val cand = spark.table(table).filter(col("anchor_id") =!= col("doc_id"))
        .select(col("doc_id")).distinct().as[Long].collect().toSet
      val kept = spark.read.parquet(s"$dir/out").select(col("doc_id")).as[Long].collect()
      r.checkS += (System.nanoTime() - t0) / 1e9
      r.checkCpuS += Proc.cpuS() - c0
      val keptSet = kept.toSet
      batches.zipWithIndex.foreach { case (b, bi) =>
        r.check(lshOps(bi)) {
          b.map(_.doc_id).find(d => exact.contains(d) && !cand.contains(d))
            .map(d => s"exact re-post $d of ${exact(d)} was not flagged")
        }
        r.check(dedupOps(bi)) {
          b.map(_.doc_id).collectFirst {
            case d if exact.contains(d) && keptSet.contains(d) => s"exact re-post $d was kept"
            case d if !exact.contains(d) && !keptSet.contains(d) => s"first occurrence $d was dropped"
          }
        }
      }
      if (kept.length != kept.distinct.length) r.fail(dedupOps.head, "a document was kept twice")
      val injected = cand.count(d => exact.contains(d) || near.contains(d))
      r.extra("candidate_precision") = if (cand.isEmpty) 0.0 else injected.toDouble / cand.size
      val (hf, hb) = Proc.dirBytes(new File(s"$dir/history"))
      r.extra("history_files") = hf.toDouble
      r.extra("history_bytes") = hb.toDouble
    }
    spark.catalog.dropTempView(table)
    Proc.deleteTree(new File(dir))
  }
}

object StreamProbe {
  /** The metrics of `apply`; workloads that do not run the probe report 0. */
  val layers: Seq[String] = Seq("streaming.add_batch_ms", "streaming.planning_ms",
    "streaming.wal_commit_ms", "streaming.state_rows", "streaming.state_bytes",
    "streaming.history_files", "streaming.history_bytes", "dedup.candidate_precision")
}
