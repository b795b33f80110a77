package perfbench

import scala.collection.mutable

/** Takes the expected digests of registry queries: each query runs
  * twice, in two different orders, and must digest the same both times.
  * Oracle-checked results are also written as parquet, with their
  * DuckDB SQL, for `perfbench/xcheck.py`.
  */
object Expect {
  def apply(plan: Map[String, Any]): Unit = {
    val names = plan("queries").asInstanceOf[Seq[String]]
    val dir = plan("fixtures").toString
    val dump = plan("dump_dir").toString
    val spark = Main.newSession(plan("cores").asInstanceOf[Number].intValue)
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val got = mutable.Map[String, Seq[Digest]]()
    Seq(names, names.reverse).foreach(_.foreach { q =>
      got(q) = got.getOrElse(q, Nil) :+ Digest.of(queries(q)(spark, dir))
      Registry.release(spark)
    })
    val unstable = got.filter(_._2.distinct.size > 1).keys.toSeq.sorted
    require(unstable.isEmpty, s"queries digest differently across runs: $unstable")
    val checked = names.filter(oracle.contains)
    checked.foreach { q =>
      queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")
    }
    // two-stage oracles read Spark-computed artifacts, as in graft.Verify
    graft.ops.AuxArtifacts.all
      .filter { case (a, _) => checked.exists(q => oracle(q).contains(s"__GRAFT_OUT__/$a")) }
      .foreach { case (a, fn) =>
        fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$dump/$a")
      }
    Json.writeFile(s"$dump/oracle_sql.json",
      checked.map(q => q -> oracle(q).replace("__GRAFT_OUT__", dump)).toMap)
    Json.writeFile(plan("out").toString, got.map { case (q, ds) =>
      q -> Map("rows" -> ds.head.rows, "hash" -> ds.head.hex) }.toMap)
    spark.stop()
  }
}
