package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Python API smoke: the reference ships a PySpark context wrapper
  * (/root/reference python/pyspark_hbase/sql/context.py:26-48,
  * shell.py:1-44); graft's catalog/extensions are config-driven, so
  * the Python face is `python/graft.py` + three config lines. This
  * spec runs `python/graft_smoke.py` in a subprocess — DDL, INSERT,
  * key-pruned SELECT (plan-asserted), native `vec_cosine`, manifest
  * aggregates — and requires its GRAFT_PY_OK marker.
  *
  * Cancels (rather than fails) when no python3+pyspark is available,
  * so the JVM suite stays runnable in minimal environments.
  */
class PythonApiSpec extends AnyFunSuite with TempDirs {

  private def havePyspark: Boolean =
    try {
      Seq("python3", "-c", "import pyspark").!(ProcessLogger(_ => ())) == 0
    } catch { case _: Exception => false }

  private def runPy(script: String, arg2: String): String = {
    val repo = new java.io.File(".").getCanonicalPath
    val classes = s"$repo/target/scala-2.13/classes"
    val out = new StringBuilder
    val code = Process(
      Seq("python3", s"$repo/python/$script", classes, arg2),
      new java.io.File(repo),
      "PYTHONPATH" -> s"$repo/python")
      .!(ProcessLogger(l => out.append(l).append('\n'),
        l => out.append(l).append('\n')))
    assert(code == 0, s"$script exited $code:\n$out")
    out.toString
  }

  test("pyspark reaches the graft catalog end-to-end") {
    assume(havePyspark, "python3 with pyspark not available")
    val warehouse = tempDir("graft_py_wh").toString
    assert(runPy("graft_smoke.py", warehouse).contains("GRAFT_PY_OK"))
  }

  test("multimodal mapInPandas plumbing (decode/frames/resize stubs)") {
    assume(havePyspark, "python3 with pyspark not available")
    assume(
      try Seq("python3", "-c", "import pandas, pyarrow")
        .!(ProcessLogger(_ => ())) == 0
      catch { case _: Exception => false },
      "pandas/pyarrow not available")
    assert(runPy("graft_multimodal_smoke.py", graft.TestSpark.sfDir)
      .contains("GRAFT_MM_OK"))
  }
}
