package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Multimodal

/** The multimodal kernels and their DuckDB twins read the same committed
  * fixture assets (the kernels themselves are oracle-checked through
  * `graft.Verify`). */
class MultimodalSpec extends AnyFunSuite {
  test("every DuckDB twin reads fixtureDir, inside the working directory") {
    // no fixed absolute path: a checkout anywhere finds its own assets,
    // and every twin's read_blob names the directory the defs read
    assert(new java.io.File(Multimodal.fixtureDir).listFiles.nonEmpty)
    assert(Multimodal.sql.keySet == Multimodal.defs.keySet)
    val blob = """read_blob\('([^']*)'\)""".r
    Multimodal.sql.foreach { case (name, twin) =>
      val dirs = blob.findAllMatchIn(twin).map(_.group(1)).toSeq
      assert(dirs.nonEmpty, s"$name: twin reads no blob")
      assert(dirs.forall(_.startsWith(Multimodal.fixtureDir + "/")),
        s"$name: twin reads ${dirs.mkString(", ")}, not Multimodal.fixtureDir")
      assert(dirs.forall(_.startsWith(sys.props("user.dir") + "/")),
        s"$name: twin reads ${dirs.mkString(", ")}, outside the checkout")
    }
  }
}
