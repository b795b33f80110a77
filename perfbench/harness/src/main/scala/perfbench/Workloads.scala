package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The ops of one pass, as the client sees them: each op is timed from
  * submission to result, one at a time (a closed loop). Checks run
  * outside the timed region; their time is kept apart so `pass_s`
  * excludes it.
  */
final class PassRec(val pass: Int, val tracer: Tracer) {
  val names = mutable.ArrayBuffer[String]()
  val latS = mutable.ArrayBuffer[Double]()
  val failures = mutable.LinkedHashMap[Int, String]()
  var checkS = 0.0
  var checkCpuS = 0.0
  val extra = mutable.LinkedHashMap[String, Double]()

  def opId(i: Int): String = s"p$pass.o$i"

  /** Times `body` as the next op; returns the op's index and result. */
  def op[A](name: String)(body: String => A): (Int, A) = {
    val i = names.size
    val id = opId(i)
    names += name
    val t0 = Tracer.nowNs()
    val r =
      try Right(body(id))
      catch { case e: Throwable => Left(e) }
    val t1 = Tracer.nowNs()
    latS += (t1 - t0) / 1e9
    if (tracer.isActive) tracer.addSpan(Span(id, s"pass$pass", "op", name, t0, t1))
    r match {
      case Right(a) => (i, a)
      case Left(e) =>
        fail(i, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        (i, null.asInstanceOf[A])
    }
  }

  def fail(i: Int, msg: String): Unit =
    if (!failures.contains(i)) failures(i) = s"${names(i)}: ${msg.take(300)}"

  /** Runs a correctness check outside the timed region. */
  def check(i: Int)(body: => Option[String]): Unit = {
    val t0 = System.nanoTime()
    val c0 = Proc.cpuS()
    try body.foreach(fail(i, _))
    catch { case e: Throwable => fail(i, s"check threw $e") }
    finally {
      checkS += (System.nanoTime() - t0) / 1e9
      checkCpuS += Proc.cpuS() - c0
    }
  }
}

trait Workload {
  def name: String
  /** Runs every op shape once on the warm-up inputs; errors are ignored. */
  def warmup(spark: SparkSession): Unit
  def runPass(spark: SparkSession, rec: PassRec): Unit
}

/** `driver_loops`: registry queries over the fixture tables, in the
  * seed's order for each pass. Each op is build (the query function,
  * including any eager driver loops), plan (`executedPlan`), then exec
  * (the physical plan's rows, collected). The check digests the
  * collected rows.
  */
final class Registry(order: Seq[Seq[String]], dir: String, warmDir: String,
                     expected: Map[String, Digest]) extends Workload {
  val name = "driver_loops"
  private val queries = graft.SparkEntry.queries

  def warmup(spark: SparkSession): Unit =
    order.head.sorted.foreach { q =>
      try queries(q)(spark, warmDir).queryExecution.executedPlan.executeCollect()
      catch { case _: Throwable => () }
      Registry.release(spark)
    }

  def runPass(spark: SparkSession, rec: PassRec): Unit =
    order(rec.pass % order.size).foreach { q =>
      val (i, got) = rec.op(q) { id =>
        val df = rec.tracer.phase(id, "build")(queries(q)(spark, dir))
        val plan = rec.tracer.phase(id, "plan")(df.queryExecution.executedPlan)
        (plan.schema, rec.tracer.phase(id, "exec")(plan.executeCollect()))
      }
      rec.check(i) {
        if (got == null) None
        else (expected.get(q), Digest.of(got._2, got._1)) match {
          case (None, _) => Some("no expected digest")
          case (Some(want), got) if want != got =>
            Some(s"digest rows=${got.rows} hash=${got.hex}, want rows=${want.rows} hash=${want.hex}")
          case _ => None
        }
      }
      rec.check(i) { Registry.release(spark); None }
    }
}

object Registry {
  /** Drops cached blocks an op left behind, so each op pays for its own. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}

final case class CorpusSpec(dir: String, docs: Int) {
  def docsDir = s"$dir/docs"
  def stopwords = s"$dir/stopwords.txt"
  def centers = s"$dir/centers.txt"
  lazy val bytes: Long = Proc.dirBytes(new File(docsDir))._2
}

/** `reference_pipeline`: the paper's Job 1 and Job 2 through the
  * public CLI body, one corpus per op.
  */
final class ReferencePipeline(corpora: Seq[CorpusSpec], warm: Seq[CorpusSpec],
                              workDir: String) extends Workload {
  val name = "reference_pipeline"
  private var outSeq = 0

  private def runOne(spark: SparkSession, c: CorpusSpec): String = {
    outSeq += 1
    val out = s"$workDir/ref-out-$outSeq"
    graft.tools.RunReference.run(spark, c.docsDir, out, c.stopwords, c.centers)
    out
  }

  def warmup(spark: SparkSession): Unit =
    warm.foreach(c => Proc.deleteTree(new File(runOne(spark, c))))

  def runPass(spark: SparkSession, rec: PassRec): Unit =
    corpora.foreach { c =>
      val (i, out) = rec.op(s"corpus${c.docs}") { id =>
        rec.tracer.phase(id, "run")(runOne(spark, c))
      }
      rec.check(i) {
        if (out == null) None
        else try ReferenceCheck(out, c) finally Proc.deleteTree(new File(out))
      }
      if (rec.tracer.isActive) {
        val inBytes = rec.tracer.counters(rec.opId(i), "run").inputBytes
        rec.extra("read_amplification") = rec.extra.getOrElse("read_amplification", 0.0) +
          inBytes.toDouble / c.bytes / corpora.size
      }
    }
}

/** Structure and recomputation checks of one reference run's outputs. */
object ReferenceCheck {
  private def lines(dir: File): Seq[String] =
    Option(dir.listFiles).toSeq.flatten.filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName)
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toVector)

  private def parseVec(s: String): Array[Double] =
    s.trim.stripPrefix("[").stripSuffix("]").split(",").filter(_.nonEmpty).map(_.toDouble)

  def apply(out: String, c: CorpusSpec): Option[String] = {
    val job1 = lines(new File(out)).map { l =>
      val Array(t, v) = l.split("\t", 2)
      t -> parseVec(v)
    }
    if (job1.isEmpty) return Some("job 1 wrote no terms")
    val bad = job1.find(_._2.length != c.docs)
    if (bad.nonEmpty) return Some(s"term ${bad.get._1} has width ${bad.get._2.length}, want ${c.docs}")
    if (job1.map(_._1).distinct.size != job1.size) return Some("job 1 repeats a term")
    val clusters = lines(new File(s"$out/kmeansOutput6")).map { l =>
      val Array(k, v) = l.split("\t", 2)
      k.toInt -> v.split(" ").filter(_.nonEmpty).toSeq
    }.sortBy(_._1)
    val members = clusters.flatMap(_._2)
    if (members.size != members.distinct.size) return Some("a term is in two clusters")
    if (members.toSet != job1.map(_._1).toSet)
      return Some(s"clusters cover ${members.size} terms, job 1 has ${job1.size}")
    // independent cosine argmin over centers.txt
    val centers = scala.io.Source.fromFile(c.centers, "UTF-8").getLines()
      .filter(_.trim.nonEmpty).map(parseVec).toVector
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val cn = centers.map(norm)
    val dists = job1.map { case (t, v) =>
      val vn = norm(v)
      t -> centers.indices.map { j =>
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += v(i) * centers(j)(i); i += 1 }
        1.0 - dot / (vn * cn(j))
      }
    }.toMap
    val best = dists.view.mapValues(d => d.indexOf(d.min)).toMap
    val nonEmpty = best.values.toSeq.distinct.sorted
    if (nonEmpty.size != clusters.size)
      return Some(s"${clusters.size} clusters, recomputation gives ${nonEmpty.size}")
    clusters.zip(nonEmpty).foreach { case ((k, ms), center) =>
      ms.foreach { t =>
        val d = dists(t)
        if (d(center) > d.min + 1e-9)
          return Some(s"term $t in cluster $k (center $center) but nearest is ${best(t)}")
      }
    }
    None
  }
}
