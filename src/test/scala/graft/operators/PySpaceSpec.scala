package graft.operators

import graft.kernel.PyText
import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB oracles strip Python's `str.strip()` set: the one `trim`
  * list `ExtractOps.pySpaceDuck`, taken from `PyText.isPySpace`.
  */
class PySpaceSpec extends AnyFunSuite {

  test("pySpaceDuck lists the code points of PyText.isPySpace, which are Python's 29") {
    val listed = "chr\\((\\d+)\\)".r.findAllMatchIn(ExtractOps.pySpaceDuck).map(_.group(1).toInt).toSeq
    assert(ExtractOps.pySpaceDuck == listed.map(cp => s"chr($cp)").mkString(" || "))
    assert(listed == (0 to 0xFFFF).filter(PyText.isPySpace))
    assert(!(0x10000 to 0x10FFFF).exists(PyText.isPySpace))
    // [c for c in range(0x110000) if chr(c).isspace()] in CPython 3.11
    val python = (0x09 to 0x0D) ++ (0x1C to 0x20) ++ Seq(0x85, 0xA0, 0x1680) ++
      (0x2000 to 0x200A) ++ Seq(0x2028, 0x2029, 0x202F, 0x205F, 0x3000)
    assert(listed == python)
  }
}
