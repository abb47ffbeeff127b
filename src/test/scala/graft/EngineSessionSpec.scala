package graft

import org.scalatest.funsuite.AnyFunSuite

class EngineSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CONF: k=v entries parse in order, a value may contain '='") {
    assert(EngineSession.parseConf("spark.x=1;spark.y=a=b;") ===
      Seq("spark.x" -> "1", "spark.y" -> "a=b"))
    assert(EngineSession.parseConf("") === Nil)
  }

  test("SPARK_GRAFT_CONF: an entry without '=' fails, naming the entry") {
    val e = intercept[IllegalArgumentException](
      EngineSession.parseConf("spark.x=1;spark.oops"))
    assert(e.getMessage.contains("'spark.oops'"), e.getMessage)
  }
}
