package graft.diversity

import org.scalatest.funsuite.AnyFunSuite

/** Runs the dense kernels in a JVM started without
  * `--add-modules=jdk.incubator.vector` ([[NoVectorModuleProbe]]): each
  * entry point must fail with the flag in its message, on every attempt,
  * instead of a bare `NoClassDefFoundError`.
  */
class VectorLanesSpec extends AnyFunSuite {
  test("without the vector module every kernel entry fails naming --add-modules") {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val proc = new ProcessBuilder(java, "-Xmx64m", "-cp", System.getProperty("java.class.path"),
      "graft.diversity.NoVectorModuleProbe").redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, out)
    val lines = out.linesIterator.filter(_.startsWith("probe ")).toSeq
    assert(lines.size == 4, out)
    lines.foreach { l =>
      assert(l.contains("UnsupportedOperationException") &&
        l.contains("--add-modules=jdk.incubator.vector"), out)
    }
  }
}

/** Calls each kernel entry point twice and prints how it failed. */
object NoVectorModuleProbe {
  def main(args: Array[String]): Unit = {
    def probe(name: String)(body: => Any): Unit =
      try { body; println(s"probe $name: no failure") }
      catch { case e: Throwable => println(s"probe $name: ${e.getClass.getName}: ${e.getMessage}") }
    for (_ <- 1 to 2) {
      probe("PointBlock")(PointBlock(Seq(Pt(0L, Array(1f, 2f)))))
      probe("StreamingCoreset")(new StreamingCoreset(2).update(Pt(0L, Array(1f, 2f))))
    }
  }
}
