package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x.asInstanceOf[AnyRef]
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def writeFile(path: String, v: Any): Unit =
    Files.write(Paths.get(path), write(v).getBytes("UTF-8"))

  /** Parses a JSON file into Scala maps, sequences and primitives. */
  def readFile(path: String): Any = fromJava(mapper.readValue(new File(path), classOf[Object]))

  def parse(s: String): Any = fromJava(mapper.readValue(s, classOf[Object]))

  private def fromJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> fromJava(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(fromJava).toVector
    case x => x
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile of `xs` with at least 10 samples above it,
    * or a quarter of the sample when it has fewer than 40, so a single
    * slow op never decides the tail. Returns (percentile, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    val beyond = math.min(10, n / 4)
    if (beyond == 0) (1.0, xs.max)
    else {
      val q = 1.0 - beyond.toDouble / (n - 1)
      (q, quantile(xs, q))
    }
  }
}

object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak resident set size of this process, MB (VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def dirBytes(f: File): (Long, Long) =
    if (!f.exists) (0L, 0L)
    else if (f.isFile) (1L, f.length)
    else f.listFiles.toSeq.map(dirBytes).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** An order-insensitive digest of a query result: its row count and
  * the wrapping sum of a 64-bit hash per row. Doubles are rounded to 12
  * significant digits, so the last-bit noise of a floating-point
  * reduction does not change the digest.
  */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val plan = df.queryExecution.executedPlan
    of(plan.executeCollect(), plan.schema)
  }

  def of(rows: Seq[InternalRow], schema: StructType): Digest = {
    var h = 0L
    rows.foreach { r =>
      val s = canon(r, schema)
      h += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1ce).toLong & 0xffffffffL)
    }
    Digest(rows.size.toLong, h)
  }

  def canon(r: InternalRow, st: StructType): String =
    st.fields.indices.map(i => value(r, i, st.fields(i).dataType)).mkString("|")

  private def value(r: InternalRow, i: Int, t: DataType): String =
    if (r.isNullAt(i)) "null" else scalar(r.get(i, t), t)

  private def scalar(v: Any, t: DataType): String = t match {
    case DoubleType => dbl(v.asInstanceOf[Double])
    case FloatType => dbl(v.asInstanceOf[Float].toDouble)
    case st: StructType => "{" + canon(v.asInstanceOf[InternalRow], st) + "}"
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).map { j =>
        if (a.isNullAt(j)) "null" else scalar(a.get(j, et), et)
      }.mkString("[", ",", "]")
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val ks = m.keyArray()
      val vs = m.valueArray()
      (0 until m.numElements()).map { j =>
        scalar(ks.get(j, kt), kt) + ":" +
          (if (vs.isNullAt(j)) "null" else scalar(vs.get(j, vt), vt))
      }.sorted.mkString("{", ",", "}")
    case BinaryType => v.asInstanceOf[Array[Byte]].map(b => f"$b%02x").mkString
    case _ => v.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.11e", Double.box(d))
}
