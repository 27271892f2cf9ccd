package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

class StagingSpec extends AnyFunSuite {

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  test("rewriting the input file restages the artifact") {
    val dir = Files.createTempDirectory("staged-input")
    val input = dir.resolve("documents.parquet")
    var builds = 0
    def stage(): String = Staging.stagedFor("spec_copy", dir.toString, "documents.parquet") { tmp =>
      builds += 1
      Files.copy(input, tmp.resolve("copy"))
    }
    def staged(root: String) = new String(Files.readAllBytes(Paths.get(root, "copy")), UTF_8)
    Files.write(input, "first".getBytes(UTF_8))
    val first = stage()
    try {
      assert(stage() == first && builds == 1, "an unchanged input was restaged")
      // regenerated at the same path: a new artifact, built from the new bytes
      Files.write(input, "second run".getBytes(UTF_8))
      val second = stage()
      try {
        assert(second != first && builds == 2)
        assert(staged(second) == "second run")
        assert(staged(first) == "first")
      } finally deleteTree(Paths.get(second))
    } finally {
      deleteTree(Paths.get(first))
      deleteTree(dir)
    }
  }
}
