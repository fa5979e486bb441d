package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins GraftConf's operator contract: every routing threshold reads
  * its system property at USE time (a long-lived driver can re-tune
  * between queries), falls back to its documented default, and a
  * malformed value fails fast. */
class GraftConfSpec extends AnyFunSuite {

  private def withProp[A](key: String, v: String)(body: => A): A = {
    System.setProperty(key, v)
    try body finally System.clearProperty(key)
  }

  test("documented defaults") {
    assert(GraftConf.distributedMinQueries == 131072)
    assert(GraftConf.cogroupMaxProbes == 8192)
    assert(GraftConf.componentsDriverMaxEdges == 1 << 21)
    assert(GraftConf.prepareMaterializeMaxBytes == 4L << 30)
  }

  test("overrides are read at use time and revert on clear") {
    withProp("graft.distributed.minQueries", "16") {
      assert(GraftConf.distributedMinQueries == 16)
    }
    assert(GraftConf.distributedMinQueries == 131072)
    withProp("graft.prepare.materializeMaxBytes", "0") {
      assert(GraftConf.prepareMaterializeMaxBytes == 0L)
    }
    assert(GraftConf.prepareMaterializeMaxBytes == 4L << 30)
  }

  test("malformed override fails fast, naming the key and value") {
    withProp("graft.prepare.materializeMaxBytes", "4G") {
      val e = intercept[IllegalArgumentException](
        GraftConf.prepareMaterializeMaxBytes)
      assert(e.getMessage.contains("graft.prepare.materializeMaxBytes"))
      assert(e.getMessage.contains("4G"))
    }
    withProp("graft.distributed.minQueries", "lots") {
      val e = intercept[IllegalArgumentException](GraftConf.distributedMinQueries)
      assert(e.getMessage.contains("graft.distributed.minQueries"))
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
