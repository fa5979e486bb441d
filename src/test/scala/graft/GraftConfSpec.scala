package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins GraftConf's operator contract: every routing threshold reads
  * its system property at USE time (a long-lived driver can re-tune
  * between queries), falls back to its documented default, and the
  * derived bound (joinMaxProbesPerBucket = 8× cogroup bound) follows
  * an override of its base. */
class GraftConfSpec extends AnyFunSuite {

  private def withProp[A](key: String, v: String)(body: => A): A = {
    System.setProperty(key, v)
    try body finally System.clearProperty(key)
  }

  test("documented defaults") {
    assert(GraftConf.distributedMinQueries == 131072)
    assert(GraftConf.cogroupMaxProbes == 8192)
    assert(GraftConf.joinMaxProbesPerBucket == 8 * 8192)
    assert(GraftConf.fusedMinProbedRows == 28000000L)
  }

  test("overrides are read at use time and revert on clear") {
    withProp("graft.distributed.minQueries", "16") {
      assert(GraftConf.distributedMinQueries == 16)
    }
    assert(GraftConf.distributedMinQueries == 131072)
    withProp("graft.join.minProbedRows", "0") {
      assert(GraftConf.fusedMinProbedRows == 0L)
    }
    assert(GraftConf.fusedMinProbedRows == 28000000L)
  }

  test("malformed override fails fast, naming the key and value") {
    withProp("graft.join.minProbedRows", "28M") {
      val e = intercept[IllegalArgumentException](GraftConf.fusedMinProbedRows)
      assert(e.getMessage.contains("graft.join.minProbedRows"))
      assert(e.getMessage.contains("28M"))
    }
    withProp("graft.distributed.minQueries", "lots") {
      val e = intercept[IllegalArgumentException](GraftConf.distributedMinQueries)
      assert(e.getMessage.contains("graft.distributed.minQueries"))
    }
  }

  test("per-bucket bound follows an override of the cogroup bound") {
    withProp("graft.cogroup.maxProbes", "100") {
      assert(GraftConf.joinMaxProbesPerBucket == 800)
    }
  }

  test("oracle and stream roots sit beside the model root") {
    import graft.queries.Vector.{odir, sdir}
    val h = f"${scala.util.hashing.MurmurHash3.stringHash("/data/sf0.01")}%08x"
    if (sys.env.get("GRAFT_MODEL_DIR").isEmpty) {
      assert(odir("/data/sf0.01") == s"/tmp/graft_oracle/sf0.01_$h")
      assert(sdir("/data/sf0.01") == s"/tmp/graft_stream/sf0.01_$h")
    }
    withProp("graft.model.dir", "/srv/graft/models") {
      assert(odir("/data/sf0.01") == s"/srv/graft/graft_oracle/sf0.01_$h")
      assert(sdir("/data/sf0.01") == s"/srv/graft/graft_stream/sf0.01_$h")
    }
  }
}
