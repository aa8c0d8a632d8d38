package graft

/** A gate that throws is counted, not timed as a success: the driver line
  * carries `"failed":1` and the process exits non-zero. */
class BenchSpec extends SparkSpec {

  test("an injected throwing gate gives \"failed\":1 and a non-zero exit") {
    val gates = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "q_ok" -> ((s, _) => s.range(3).toDF()),
      "q_boom" -> ((_, _) => throw new IllegalStateException("injected")))
    val (results, failed) = Bench.timeGates(spark, sf001, gates, 1, None)
    assert(results.map(_._1) == Seq("q_ok", "q_boom"))
    assert(failed == 1)
    val line = Bench.line(results, failed, 0.0, sf001)
    assert(line.contains("\"failed\":1,"), line)
    assert(line.contains("\"n_queries\":2,"), line)
    assert(Bench.exitStatus(failed) != 0)
    assert(Bench.exitStatus(0) == 0)
  }

  test("the line stays inside its byte budget with the failed field") {
    val results = (1 to 400).map(i => f"q_gate_with_a_long_name_$i%04d" -> i * 0.001)
    val line = Bench.line(results, 0, 12.5, sf001)
    assert(line.getBytes("UTF-8").length <= 1800, line.length)
    assert(line.contains("\"failed\":0,") && line.contains("\"omitted\":"))
  }
}
