package graft

import org.scalatest.funsuite.AnyFunSuite

/** The format read objects only read: each format's writes live in its
  * writer object (`DeltaWrite`, `HudiWrite`, `IcebergWrite`,
  * `PaimonWrite`), which publishes metadata through `AtomicPublish`. */
class ReadObjectsSpec extends AnyFunSuite {

  test("Delta, Hudi, Iceberg and Paimon read objects create, rename and copy no file") {
    val dir = new java.io.File("src/main/scala/graft/sources")
    assert(dir.isDirectory, s"run from the repository root (cwd ${dir.getAbsoluteFile})")
    for (format <- Seq("Delta", "Hudi", "Iceberg", "Paimon")) {
      val file = new java.io.File(dir, s"${format}Read.scala")
      val src = new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
      for (call <- Seq(".create(", ".rename(", "FileUtil.copy"))
        assert(!src.contains(call), s"${file.getName} calls $call")
    }
  }
}
