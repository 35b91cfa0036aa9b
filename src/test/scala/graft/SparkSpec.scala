package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` with the given session confs set, restoring the previous
    * values (or unsetting) after — the shared session must not leak confs
    * across suites.
    */
  def withSqlConf[A](pairs: (String, String)*)(body: => A): A =
    withSessionConf(spark)(pairs: _*)(body)

  /** [[withSqlConf]] on another session `s`. */
  def withSessionConf[A](s: SparkSession)(pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Jobs `body` starts on this thread's job group, counted by a listener. */
  def jobs(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          n.incrementAndGet(): Unit
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try {
      body
      GraftTestBridge.drainListeners(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The declared queries a sweep checks, sorted, and the problems found
    * with the ones it leaves out. Where the reference tree is present that
    * is every query and no problem. Where it is absent, each of
    * [[ReferenceTree.readers]] is built and must fail for want of the tree;
    * those are left out (and named with `info`), and any other outcome is
    * returned as a problem for the sweep to report.
    */
  def sweptQueries(sfDir: String): (Seq[String], Seq[String]) = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    if (ReferenceTree.present) (all, Nil)
    else {
      val leftOut = ReferenceTree.readers.toSeq.sorted
      val problems = leftOut.flatMap(name =>
        ReferenceTree.absenceProblem(name, SparkEntry.queries(name)(spark, sfDir)))
      val kept = all.filterNot(ReferenceTree.readers)
      info(s"checking ${kept.size} of ${all.size}; left out, no reference tree at " +
        s"${ReferenceTree.root}: ${leftOut.mkString(", ")}")
      (kept, problems)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** The reference checkout that replay tests and three declared queries read
  * at run time: `ChReplay.scriptsDir` (`GRAFT_REFERENCE_SCRIPTS`, default
  * `/root/reference/scripts/sql`) and the `docs` directory two levels up.
  * It is not part of this repository; where it is absent, tests that read
  * it cancel and query sweeps leave its readers out.
  */
object ReferenceTree {
  import java.nio.file.{Files, NoSuchFileException, Path, Paths}

  val scripts: Path = Paths.get(graft.engine.ChReplay.scriptsDir).toAbsolutePath.normalize()
  val root: Path = scripts.resolve("../..").normalize()
  val docs: Path = root.resolve("docs")

  /** The declared queries that read the tree while they build: q74 one
    * script, q105 the doc, q113 all seven scripts.
    */
  val readers: Set[String] =
    Set("q74_ddl_replay", "q105_doc_handrows", "q113_stream_cascade")

  def hasScripts: Boolean = Files.isDirectory(scripts)
  def present: Boolean = hasScripts && Files.isDirectory(docs)

  /** The `assume` clue of a test that needs `dirs`. */
  def missing(dirs: Path*): String =
    s"no reference checkout: ${dirs.filterNot(Files.isDirectory(_)).mkString(", ")} " +
      "missing (point GRAFT_REFERENCE_SCRIPTS at its scripts/sql)"

  /** None when building `name` fails with a `NoSuchFileException` under
    * [[root]], as a reader must without the tree; else what happened.
    */
  def absenceProblem(name: String, build: => Any): Option[String] =
    try {
      build
      Some(s"$name: builds without the reference tree; drop it from ReferenceTree.readers")
    } catch {
      case e: NoSuchFileException
          if Option(e.getFile).exists(f =>
            Paths.get(f).toAbsolutePath.normalize().startsWith(root)) => None
      case e: Exception =>
        Some(s"$name: expected a NoSuchFileException under $root, got $e")
    }
}
