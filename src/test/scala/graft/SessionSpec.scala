package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkConf
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The session factory's settings, checked through its pure functions:
  * no session is started here. */
class SessionSpec extends AnyFunSuite {

  test("Session.conf equals perfbench/workloads.json's session block") {
    implicit val formats: Formats = DefaultFormats
    val block = parse(Files.readString(Paths.get("perfbench/workloads.json"))) \ "session"
    val n = 7
    def v(x: JValue): String = x.extract[String].replace("{nproc}", n.toString)
    val JObject(kvs) = block \ "conf": @unchecked
    val expected = kvs.map { case (k, x) => k -> v(x) }.toMap +
      ("spark.master" -> v(block \ "master"))
    // spark.* system properties of this JVM are part of any SparkConf
    val ambient = new SparkConf().getAll.toMap
    assert(Session.conf(n).getAll.toMap == ambient ++ expected)
  }

  test("a spark.* system property overrides a Session default") {
    val key = "spark.sql.join.preferSortMergeJoin"
    assert(Session.conf(4).get(key) == "false")
    val prior = Option(System.getProperty(key))
    System.setProperty(key, "true")
    try assert(Session.conf(4).get(key) == "true")
    finally prior.fold(System.clearProperty(key))(System.setProperty(key, _))
  }

  test("SPARK_GRAFT_CPUS must be a positive integer, named in the error") {
    for (raw <- Seq("0", "-2", "x")) {
      val e = intercept[IllegalArgumentException](Session.cpus(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
    assert(Session.cpus(Some("3")) == 3)
    assert(Session.cpus(None) == Runtime.getRuntime.availableProcessors)
  }
}
