package graft

import graft.core.Graft

/** Plan parity between built and adopted sessions: `Graft.tune` (the
  * Verify/Bench path) must leave a session with the confs
  * `Graft.configure` gave the suite's own session, or those entry points
  * run different physical plans than the tests audit.
  */
class GraftConfSpec extends SparkSpec {

  test("tune resets every session conf to the value configure set") {
    // the shared session was built through configure
    val configured = Graft.sessionConfs.map { case (k, _) => k -> spark.conf.get(k) }
    assert(configured == Graft.sessionConfs)
    def other(v: String): String = v match {
      case "true"  => "false"
      case "false" => "true"
      case "UTC"   => "America/New_York"
      case n       => (n.toLong / 2).toString
    }
    withSQLConf(configured.map { case (k, v) => k -> other(v) }: _*) {
      for ((k, v) <- configured) assert(spark.conf.get(k) != v, k)
      Graft.tune(spark)
      for ((k, v) <- configured) assert(spark.conf.get(k) == v, k)
    }
  }
}
