package graft

/** `graft.Probe` on the shared session: every mode runs a gate and
  * exits 0, the timed modes print non-negative numbers, and misuse
  * names the valid choices.
  */
class ProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val gate = "q01_pricing_summary"

  /** Exit code and stdout of one Probe run. */
  private def probe(args: String*): (Int, String) = {
    val out = new java.io.ByteArrayOutputStream
    val code = Console.withOut(out)(Probe.run(spark, args.toArray, sf))
    (code, out.toString("UTF-8"))
  }

  /** The `key=number` fields of the single `[probe] <mode>` line. */
  private def fields(out: String, mode: String): Map[String, Double] = {
    val lines = out.linesIterator.filter(_.startsWith(s"[probe] $mode ")).toSeq
    assert(lines.size == 1, out)
    """(\w+)=([0-9.]+)""".r.findAllMatchIn(lines.head)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  test("time prints best-of-2 seconds") {
    val (code, out) = probe("time", gate)
    assert(code == 0)
    val best = fields(out, "time")("best")
    assert(best >= 0.0, out)
  }

  test("jobs prints the warm run's jobs, stages and tasks") {
    val (code, out) = probe("jobs", gate)
    assert(code == 0)
    val f = fields(out, "jobs")
    assert(f("warm") >= 0.0, out)
    // a forced count launches work, so drained counters cannot read 0
    assert(f("jobs") >= 1 && f("stages") >= 1 && f("tasks") >= 1, out)
  }

  test("phases prints construct, plan and execute seconds per run") {
    val (code, out) = probe("phases", gate)
    assert(code == 0)
    val runs = out.linesIterator.filter(_.startsWith("[probe] phases ")).toSeq
    assert(runs.size == 2, out)
    runs.foreach(l => Seq("construct=", "plan=", "exec=").foreach(k => assert(l.contains(k), l)))
  }

  test("plan prints the formatted plan under a gate header") {
    val (code, out) = probe("plan", gate)
    assert(code == 0)
    assert(out.contains(s"== $gate =="), out)
    assert(out.contains("Physical Plan"), out)
  }

  test("an unknown mode or gate fails naming the valid choices") {
    val badMode = intercept[IllegalArgumentException](probe("explain", gate))
    assert(badMode.getMessage.contains("time, jobs, phases, plan"), badMode.getMessage)
    val badGate = intercept[IllegalArgumentException](probe("time", "no_such_gate"))
    assert(badGate.getMessage.contains("no_such_gate"), badGate.getMessage)
    assert(badGate.getMessage.contains(gate), badGate.getMessage)
  }
}
