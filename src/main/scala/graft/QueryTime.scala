package graft
import graft.core.SparkSessionFactory

/** One sequential cold pass over the named gate queries (or every query
  * matching a prefix list), printing one JSON line per query with its
  * wall-clock cost — the tool behind BASELINE.md's "cold, sf0.1" cost
  * notes. First row carries JVM/codegen warmup, as documented there.
  *
  * Run: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.QueryTime q115,q116"`
  * An optional second arg repeats the whole pass N times (pass 1 is the
  * cold row; later passes approximate the bench's warm protocol).
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val prefixes = if (args.nonEmpty) args(0).split(",").toSeq else Seq("q")
    val passes = if (args.length > 1) args(1).toInt else 1
    val spark = SparkSessionFactory.local(32, "graft-query-time")
    spark.sparkContext.setLogLevel("ERROR")
    // pre-JIT the media codecs, so cold rows are measured the way
    // Verify/Bench run them
    graft.operators.Multimodal.preJitCodecs()
    val picked = SparkEntry.modules
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    (1 to passes).foreach { pass =>
      picked.foreach { case (name, d) =>
        val t0 = System.nanoTime()
        val rows = d.build(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"query":"$name","pass":$pass,"rows":$rows,"sec":$sec%.3f}""")
      }
    }
    spark.stop()
  }
}
