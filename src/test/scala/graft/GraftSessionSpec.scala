package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SpatialFilterPushdown

/** The factory's session for specs. Extensions are builder-time
  * configuration, and getOrCreate() would silently return the shared test
  * session (ignoring them) unless the default/active slots are cleared
  * first; the factory is called twice before they are restored. The new
  * session shares the existing SparkContext.
  */
object GraftTestSession {
  lazy val (spark, again): (SparkSession, SparkSession) = {
    val base = SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try (GraftSession.getOrCreate(), GraftSession.getOrCreate())
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}

class GraftSessionSpec extends AnyFunSuite {

  // pure-SQL resolution of the extension functions on this session is
  // ExtensionsSpec's "extension-registered functions work from pure SQL"
  test("the factory returns one session, whose optimizer holds the rule once") {
    val s = GraftTestSession.spark
    assert(s eq GraftTestSession.again)
    assert(s ne SparkTestSession.spark)
    // installed once: by the extension, not also as an extra optimization
    // (Spark runs its operator-optimization rule set in two batches, so
    // counting over all batches would see the one rule twice)
    val installed = s.sessionState.optimizer.extendedOperatorOptimizationRules ++
      s.experimental.extraOptimizations
    assert(installed.count(_ eq SpatialFilterPushdown) === 1)
    assert(s.conf.get("spark.sql.shuffle.partitions") === GraftSession.cores.toString)
  }

  test("Scratch.path keys a derived table by the dataset's canonical path") {
    val sf = new File(SparkTestSession.sfDir)
    val a = Scratch.path("t", sf.getPath)
    assert(a === Scratch.path("t", s"${sf.getParent}/../${sf.getParentFile.getName}/${sf.getName}"))
    assert(a !== Scratch.path("t", new File(new File(sf.getParent, "elsewhere"), sf.getName).getPath))
    assert(new File(a).getName.startsWith(s"graft_t_${sf.getName}_"))
    assert(new File(a).getParent === new File(Scratch.root).getPath)
  }

  private lazy val mainSources: Seq[Path] = {
    val all = Files.walk(Paths.get("src/main/scala"))
    try all.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally all.close()
  }

  private def hits(needle: String): Seq[String] = mainSources.flatMap { p =>
    Files.readAllLines(p).asScala.zipWithIndex.collect {
      case (l, i) if l.contains(needle) => s"$p:${i + 1}"
    }
  }

  test("src/main builds sessions only in GraftSession, scratch paths only in Scratch") {
    assert(mainSources.nonEmpty)
    val builders = hits("SparkSession.builder")
    assert(builders.size === 1 && builders.head.contains("GraftSession.scala"),
      s"SparkSession.builder outside GraftSession: $builders")
    val shm = hits("\"/dev/shm")
    assert(shm.size === 1 && shm.head.contains("Scratch.scala"),
      s"literal /dev/shm path outside Scratch: $shm")
  }
}
