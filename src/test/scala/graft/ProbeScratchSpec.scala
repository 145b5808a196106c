package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scratch-root contract behind the scale ladder (r14 review):
  * write-time refusal on non-scratch roots, exception-safe cleanup. */
class ProbeScratchSpec extends AnyFunSuite {
  private def tmp(): java.io.File =
    java.nio.file.Files.createTempDirectory("graft_ps_").toFile

  test("fresh root: created, usable, fully removed afterwards") {
    val root = new java.io.File(tmp(), "fresh")
    ProbeScratch.runWith(root.toString) {
      val f = new java.io.File(root, "x1/part.bin")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      assert(f.exists())
    }
    assert(!root.exists(), "scratch root survived cleanup")
  }

  test("pre-existing non-scratch root is refused BEFORE any write") {
    val root = tmp() // exists, no sentinel
    val data = new java.io.File(root, "x1/precious.parquet")
    data.getParentFile.mkdirs()
    java.nio.file.Files.write(data.toPath, Array[Byte](42))
    val e = intercept[RuntimeException] {
      ProbeScratch.runWith(root.toString) {
        fail("body must not run against a non-scratch root")
      }
    }
    assert(e.getMessage.contains("refusing"))
    assert(data.exists(), "refusal must leave pre-existing data intact")
  }

  test("a throwing body still removes the claimed scratch root") {
    val root = new java.io.File(tmp(), "boom")
    intercept[RuntimeException] {
      ProbeScratch.runWith(root.toString) {
        val f = new java.io.File(root, "x8/huge.bin")
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, Array[Byte](7))
        sys.error("rung failed")
      }
    }
    assert(!root.exists(), "failure path leaked scratch")
  }

  test("a root carrying the sentinel from a prior run is reclaimable") {
    val root = new java.io.File(tmp(), "again")
    ProbeScratch.runWith(root.toString) { () } // creates + removes
    root.mkdirs() // simulate a prior run that died before cleanup...
    java.nio.file.Files.write(
      new java.io.File(root, ".graft_probe_scratch").toPath,
      Array.empty[Byte]) // ...but after claiming
    ProbeScratch.runWith(root.toString) { () }
    assert(!root.exists())
  }
}
