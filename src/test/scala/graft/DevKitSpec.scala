package graft

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** The dev tools' shared measurement kit. */
class DevKitSpec extends SparkSpec {

  test("Meter: exact shuffle counters per run, reset between runs") {
    val m = new DevKit.Meter(spark)
    try {
      def run(): DevKit.Reading = {
        m.drain() // let earlier suites' trailing events pass first
        m.reset()
        assert(spark.range(0, 1000, 1, 4).repartition(3).count() == 1000)
        m.drain()
      }
      val (first, second) = (run(), run())
      Seq(first, second).foreach { r =>
        // 1000 rows through the round-robin exchange + 3 partial counts
        assert(r.shuffleRecords == 1003, r)
        assert(r.jobs >= 1 && r.jobLog.size == r.jobs && r.stages >= 2, r)
        assert(r.shuffleBytes > 0 && r.maxTaskMs >= 0, r)
      }
      // the second reading holds the second run only
      assert(second.shuffleRecords == first.shuffleRecords)
      assert(second.jobs == first.jobs)
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("Meter: codegen compiles per run, none for a repeated plan") {
    val m = new DevKit.Meter(spark)
    // codegen inlines a primitive literal, so a literal no earlier plan
    // in this JVM used makes a class that must be compiled
    val nonce = System.nanoTime()
    try {
      def run(): DevKit.Reading = {
        m.reset()
        assert(spark.range(0, 100, 1, 2).selectExpr(s"id * ${nonce}L AS x")
          .filter("x >= 0").count() == 100)
        m.drain()
      }
      val (first, second) = (run(), run())
      assert(first.compiles >= 1, first)
      assert(second.compiles == 0, second)
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("knob reader: k=v and label=value grammars, unknown keys refused") {
    val k = DevKit.Knobs(keys = Set("cells", "rounds"))
    assert(k.kv(Seq("cells=80", "rounds=3")) == Map("cells" -> 80, "rounds" -> 3))
    val unknown = intercept[IllegalArgumentException](k.kv(Seq("cels=80")))
    assert(unknown.getMessage.contains("unknown knob 'cels'") &&
      unknown.getMessage.contains("cells, rounds"), unknown.getMessage)
    intercept[IllegalArgumentException](k.kv(Seq("cells=many")))
    intercept[IllegalArgumentException](k.kv(Seq("cells")))
    assert(Seq("x1=/d/a", "x10=/d/b=c").map(DevKit.pair) ==
      Seq("x1" -> "/d/a", "x10" -> "/d/b=c"))
    assert(DevKit.grid("16,64") == Seq(16, 64))
    intercept[IllegalArgumentException](k.get("SPARK_GRAFT_SF_DIR"))
    assert(DevKit.csv("x1", 1.5, 3, true) == "x1,1.50,3,true")
    assert(DevKit.json("mode" -> "recall", "k" -> 5,
      "recall" -> DevKit.Num(0.5, 4), "ok" -> false) ==
      """{"mode":"recall","k":5,"recall":0.5000,"ok":false}""")
  }
}

/** Every documented dev-tool command stays runnable: the tool exists, and
  * each env key and `k=v` argument on its command line is one it
  * declares. Needs no Spark. */
class DevToolDocsSpec extends AnyFunSuite {

  private val Docs = Seq("SCALE.md", "README.md", ".claude/skills/verify/SKILL.md")
  private val RunMain = """runMain graft\.(\w+)([^"'`]*)""".r
  private val EnvKey = """\b((?:SPARK_)?GRAFT_[A-Z_]+)\b""".r

  /** Each doc line naming `runMain graft.X`, with `\`-continued lines
    * joined to it. */
  private def commands(doc: String): Seq[String] = {
    val src = Source.fromFile(doc, "UTF-8")
    try src.mkString.replace("\\\n", " ").linesIterator
      .filter(_.contains("runMain graft.")).toSeq
    finally src.close()
  }

  test("every documented runMain names a main and only knobs its tool declares") {
    val cmds = Docs.flatMap(commands)
    assert(cmds.size >= 30, cmds)
    cmds.foreach { line =>
      val m = RunMain.findFirstMatchIn(line).get
      val tool = m.group(1)
      val cls = scala.util.Try(Class.forName(s"graft.$tool$$")).getOrElse(
        fail(s"no graft.$tool for: $line"))
      assert(scala.util.Try(cls.getMethod("main", classOf[Array[String]]))
        .isSuccess, s"graft.$tool has no main: $line")
      // driver-contract mains (Verify, Bench) declare no dev-tool knobs
      scala.util.Try(cls.getMethod("knobs")).toOption.foreach { getter =>
        val k = getter.invoke(cls.getField("MODULE$").get(null))
          .asInstanceOf[DevKit.Knobs]
        EnvKey.findAllMatchIn(line).map(_.group(1)).foreach { key =>
          assert(k.env(key) || DevKit.SessionKeys(key),
            s"graft.$tool does not read $key: $line")
        }
        m.group(2).trim.split("\\s+").filter(_.matches("[a-z]\\w*=.*"))
          .foreach { kv =>
            assert(k.labels || k.keys(kv.takeWhile(_ != '=')),
              s"graft.$tool takes no '$kv': $line")
          }
      }
    }
  }
}
