package graft.tools

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Focused per-query timing — the full Bench procedure (warm-up at
  * sf0.001, temporally-separated reps, toRdd.count forcing) restricted
  * to the queries named in args, for filling baseline entries of queries
  * added after a re-baseline without re-running the whole surface.
  *
  * Usage: runMain graft.tools.TimeQueries <query> [<query> ...]
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "name at least one query")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = args.toSeq
    names.foreach(n => require(graft.SparkEntry.queries.contains(n), s"unknown query $n"))
    // warm-up: codegen/JIT on the small scale
    names.foreach(n =>
      try graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count()
      catch { case NonFatal(_) => () })
    graft.operators.DedupOps.releaseAllCaches()
    val reps = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(3)
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    for (_ <- 1 to reps; n <- names) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()
      times(n) = times(n) :+ (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    names.foreach { n =>
      println(f"TIMEQ $n%s median=${median(times(n))}%.4f reps=${times(n).map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
