package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session(cores = "4")

  def sf001 = "/root/testdata/sf0.001"

  /** The sf0.01 gate fixture, env-overridable like graft.Bench /
    * graft.tools.Profile so the suite isn't coupled to this
    * machine's layout (r12 advice). */
  def sf01: String =
    sys.env.getOrElse("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.01")

  /** Recursive temp-dir delete for store/checkpoint fixtures — ONE copy
    * (r14 review: five byte-identical bodies had accumulated across the
    * store specs). */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  /** A pid-suffixed temp dir path, pre-cleaned — the store-spec fixture
    * convention (pid-unique so concurrent test JVMs never clobber each
    * other's store mid-read; callers delete in a finally). */
  def freshTmpDir(tag: String): java.io.File = {
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${tag}_${java.lang.ProcessHandle.current().pid()}")
    rmTree(f)
    f
  }
}
