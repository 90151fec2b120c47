package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.queries.{GQuery, Registry}

class ExplainSpec extends SparkSpecBase {
  private val sf = "perfbench/data/sf0.01"
  /** A registry row with broadcast joins and shuffles: AQE re-plans it. */
  private val joinQuery = "q02_superquery_union"
  private lazy val outDir = tempDir("explain")

  /** One run over the join row and a row that throws: (return value, printed lines). */
  private lazy val (failed, lines) = {
    val printed = ArrayBuffer.empty[String]
    val throws = GQuery("zz_throws", (_, _) => throw new IllegalStateException("boom"), None)
    val n = Explain.run(spark, Seq(sf, "--out", outDir, "t", joinQuery, "zz_throws"),
      Registry.all :+ throws, s => printed ++= s.split("\n"))
    (n, printed.toSeq)
  }

  test("the printed plan is the executed write's, AQE-final") {
    val from = lines.indexWhere(_.startsWith(s"===== $joinQuery cold "))
    assert(from >= 0, lines.mkString("\n"))
    val block = lines.drop(from + 1).takeWhile(!_.startsWith("wrote "))
    assert(block.exists(_.contains("AdaptiveSparkPlan isFinalPlan=true")), block.mkString("\n"))
    assert(!block.exists(_.contains("isFinalPlan=false")))
  }

  test("--out writes <name>_<suffix>.txt with the formatted plan") {
    val file = Paths.get(outDir, s"${joinQuery}_t.txt")
    assert(lines.contains(s"wrote $file"))
    val text = new String(Files.readAllBytes(file), "UTF-8")
    assert(text.startsWith("== Physical Plan =="))
    assert(text.contains("== Final Plan =="))
  }

  test("every job row of the warm run has an end") {
    val header = lines.indexWhere(_.trim.startsWith("job  exec"))
    val rows = lines.drop(header + 1).takeWhile(_.matches("""\s+\d+ .*"""))
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.trim.split("\\s+")(2).matches("""\d+\.\d{3}"""), r))
  }

  test("a query that throws is reported FAILED with no time, and counted") {
    assert(lines.contains("FAILED zz_throws: java.lang.IllegalStateException: boom"))
    assert(!lines.exists(l => l.contains("zz_throws") && l.contains(" s")))
    assert(failed == 1)
  }
}
