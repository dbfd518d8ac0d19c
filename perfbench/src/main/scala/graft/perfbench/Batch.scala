package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.perfbench.Common._

/** The `batch_pipeline` workload: the LLM-data-pipeline side of the engine
  * as batch jobs in one JVM, with a session configured the way
  * `graft.Bench` configures its own.
  *
  * Set-up is the session start plus input staging and the widened 1024-dim
  * table, staged three times into fresh directories; `setup_s` takes the
  * median staging, a steady figure. The first staging also pays the JVM's
  * first Spark jobs (class loading, codegen, JIT), which a fresh batch job
  * pays too; the traced run reports it as `setup.stage_cold_s`. Each pass then ingests
  * the seeded layers GeoParquet into a fresh target (`Ingest.run` skips a
  * committed one) and runs the query list, writing every result to parquet
  * for the oracle check. The first pass runs in a fresh JVM, as a batch job
  * does; further passes run while the next is expected to end within
  * `seconds` (none at the default run length).
  *
  * Args: workDir genDir ingestInput seconds trace(0|1) cpus resultJson q1,q2,...
  */
object Batch {

  def main(args: Array[String]): Unit = {
    val Array(workDir, genDir, ingestInput, secondsArg, traceArg, cpus, resultPath, list) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val names = list.split(",").toSeq
    val work = new File(workDir)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench-batch")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations ++= Seq(graft.plans.SpatialFilterPushdown)
    val sessionS = (System.nanoTime() - t0) / 1e9

    // catalyst phase times arrive on the listener bus, after the action;
    // each execution is attributed to the unit whose wall window holds the
    // start of its first phase
    val counters = new Counters
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val windows = mutable.ArrayBuffer[(String, Long, Long)]()
    if (trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(new QueryExecutionListener {
        private def record(qe: QueryExecution): Unit = {
          val ps = qe.tracker.phases.values
          if (ps.nonEmpty) phases.add((ps.map(_.startTimeMs).min, ps.map(_.durationMs).sum))
        }
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      })
    }

    val stageS = (0 until 3).map { k =>
      val dir = new File(work, s"sf_$k")
      rmTree(dir)
      dir.mkdirs()
      val s0 = System.nanoTime()
      new File(genDir).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.copy(f.toPath, new File(dir, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
      }
      graft.queries.Vectors.widenInline(spark, dir.getAbsolutePath)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .parquet(new File(dir, graft.queries.Vectors.WidenedTable).getAbsolutePath)
      (System.nanoTime() - s0) / 1e9
    }
    val sfDir = new File(work, "sf_2").getAbsolutePath

    val queryMap = SparkEntry.queries ++ SparkEntry.benchOnly
    var attempted = 0
    val failures = mutable.ArrayBuffer[String]()

    /** Time one unit of a pass; a failure is recorded, not thrown. */
    def unit(name: String, tag: String)(body: => Unit): Double = {
      attempted += 1
      val w0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      try withTag(spark, tag)(body)
      catch { case e: Exception => failures += s"$name: ${e.getMessage}" }
      val s = (System.nanoTime() - s0) / 1e9
      windows += ((tag, w0, System.currentTimeMillis()))
      s
    }

    def ingest(target: File, tag: String): Double = {
      rmTree(target)
      unit("ingest", tag) {
        val loaded = graft.operators.Ingest.run(spark, ingestInput, target.getAbsolutePath,
          validateDim = Some(1024), geoParquet = true)
        require(loaded, s"Ingest.run skipped the fresh target $target")
      }
    }

    def pass(tag: String, sink: (String, DataFrame) => Unit): Map[String, Double] = {
      val ing = "ingest" -> ingest(new File(work, s"ingest_$tag"), s"$tag:ingest")
      (ing +: names.map(n => n -> unit(n, s"$tag:$n")(sink(n, queryMap(n)(spark, sfDir))))).toMap
    }

    val passes = mutable.ArrayBuffer[Map[String, Double]]()
    val passCpuS = mutable.ArrayBuffer[Double]()
    val passWallS = mutable.ArrayBuffer[Double]()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    while (passes.isEmpty || elapsed + elapsed / passes.length <= seconds) {
      val out = new File(work, s"check/pass${passes.length}")
      val cpu0 = os.getProcessCpuTime
      val w0 = System.nanoTime()
      passes += pass(s"pass${passes.length}",
        (n, df) => df.write.mode("overwrite").parquet(new File(out, n).getAbsolutePath))
      passWallS += (System.nanoTime() - w0) / 1e9
      passCpuS += (os.getProcessCpuTime - cpu0) / 1e9
    }

    val lastIngest = new File(work, s"ingest_pass${passes.length - 1}")
    val result = mutable.LinkedHashMap[String, Any](
      "session_s" -> sessionS,
      "stage_s" -> stageS,
      "setup_s" -> (sessionS + median(stageS)),
      "ingest_rows" -> spark.read.parquet(lastIngest.getAbsolutePath).count(),
      "ingest_input_keys" -> spark.read.parquet(ingestInput).dropDuplicates("id", "metadata_text").count(),
      "ingest_bytes" -> treeBytes(lastIngest),
      "passes" -> passes.toSeq,
      "pass_s" -> passWallS.toSeq,
      "pass_cpu_s" -> passCpuS.toSeq,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "sf_dir" -> sfDir,
      "check_dir" -> new File(work, "check/pass0").getAbsolutePath,
      "oracle_sql" -> SparkEntry.oracleSql,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "peak_rss_mb" -> peakRssMb())

    if (trace) {
      counters.settle()
      val nPass = passes.length.toDouble
      val ph = phases.toArray(Array.empty[(Long, Long)])
      def catalystMs(tag: String): Double = windows.filter(_._1 == tag).map { case (_, a, b) =>
        ph.filter { case (t, _) => t >= a && t <= b }.map(_._2).sum.toDouble
      }.sum
      val queryTags = for (p <- passes.indices; n <- names) yield s"pass$p:$n"
      def perPass(f: counters.Agg => Double): Double =
        queryTags.flatMap(counters.get).map(f).sum / nPass
      result("trace") = Map(
        "batch.jobs" -> perPass(_.jobs.toDouble),
        "batch.tasks" -> perPass(_.tasks.toDouble),
        "batch.task_run_s" -> perPass(_.runMs / 1e3),
        "batch.task_cpu_s" -> perPass(_.cpuNs / 1e9),
        "batch.shuffle_write_mb" -> perPass(_.shuffleWrite / 1e6),
        "batch.shuffle_read_mb" -> perPass(_.shuffleRead / 1e6),
        "batch.spill_mb" -> perPass(_.spill / 1e6),
        "batch.gc_s" -> perPass(_.gcMs / 1e3),
        "batch.catalyst_s" -> queryTags.map(catalystMs).sum / 1e3 / nPass,
        "per_unit" -> ("ingest" +: names).map { n =>
          val tags = passes.indices.map(p => s"pass$p:$n")
          val aggs = tags.flatMap(counters.get)
          n -> Map(
            "s" -> median(passes.map(_(n)).toSeq),
            "jobs" -> aggs.map(_.jobs).sum / nPass,
            "tasks" -> aggs.map(_.tasks).sum / nPass,
            "task_run_s" -> aggs.map(_.runMs).sum / 1e3 / nPass,
            "task_cpu_s" -> aggs.map(_.cpuNs).sum / 1e9 / nPass,
            "shuffle_write_mb" -> aggs.map(_.shuffleWrite).sum / 1e6 / nPass,
            "catalyst_s" -> tags.map(catalystMs).sum / 1e3 / nPass)
        }.toMap)
    }
    writeFile(resultPath, json(result))
    spark.stop()
  }
}
