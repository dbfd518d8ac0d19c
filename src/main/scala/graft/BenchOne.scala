package graft

/** Single-query timing harness for local iteration: the same session
  * config and noop-sink methodology as [[Bench]], but one named query,
  * N warm repetitions, per-rep seconds on stdout. Not part of the driver
  * contract — `Bench` remains the measured record. A query that fails
  * (or is not a known name) is reported and skipped; the rest still run.
  * With reps=1 it is the spot-timing main for scale evidence runs
  * (the sf10/g100x sections of CORRECTNESS_SF1.md / BASELINE.md).
  *
  * Usage: runMain graft.BenchOne <sfDir> <name[,name...]> [reps=5]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qnames = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 5
    val spark = GraftSession.getOrCreate()
    val qmap = SparkEntry.queries ++ SparkEntry.benchOnly
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    import scala.jdk.CollectionConverters._
    // getCollectionTime returns -1 for collectors without timing support;
    // filter them so they can't deflate the reported per-rep GC seconds
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    for (name <- qnames) try {
      val fn = qmap(name)
      val times = (1 to reps).map { i =>
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        // 1-min load average per rep: quiet-window adjudications need the
        // host state ON the record, not asserted (r18 verdict task 7);
        // per-rep GC time separates heap-pressure warm-down from host
        // epochs the same way (r19 close)
        val load = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
        val gc = (gcMillis() - gc0) / 1000.0
        println(f"[benchone] $name rep $i: $t%.3f s (load $load%.1f, gc $gc%.1f s)")
        t
      }
      println(f"[benchone] $name min of $reps: ${times.min}%.3f s")
    } catch {
      case e: Exception => println(s"[benchone] $name FAILED: ${e.getMessage}")
    }
    spark.stop()
  }
}
