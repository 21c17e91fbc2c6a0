package perfbench

import scala.collection.mutable

/** Regenerates `golden/counts.json`: the row count of every timed registry
  * query on the generated corpus, at the benchmark's and the smoke test's
  * scale factors.
  *
  * {{{ perfbench.Golden <work dir> <counts.json> [cores] }}}
  */
object Golden {
  def main(args: Array[String]): Unit = {
    val Array(work, out) = args.take(2)
    val cores = args.lift(2).map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = Main.session(cores, work)
    val fns = graft.SparkEntry.queries
    val names = Workloads.corpusQueries
    val counts = mutable.LinkedHashMap.empty[String, Any]
    for (sf <- Seq(0.01, 0.001)) {
      val dir = s"$work/corpus-$sf"
      Corpus.generate(spark, dir, sf)
      counts(sf.toString) = mutable.LinkedHashMap(names.map(n => n -> fns(n)(spark, dir).count()): _*)
    }
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json(counts) + "\n")
  }
}
