package graft

/** Each internal step of the versioned store is written once under
  * src/main: the executor byte-copy job, the base-generation bloom
  * writer and the schema-evolution marker fence. A change to how the
  * store stages or resolves generations then lands in one function,
  * not in copies that drift apart. */
class StoreStepsSpec extends SparkSpec {

  /** (file name, occurrences) of `pattern` in the src/main sources. */
  private def mainSites(pattern: String): Seq[(String, Int)] =
    sourcesMatching(pattern)
      .filter(_.getPath.startsWith("src/main"))
      .map { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        f.getName -> pattern.r.findAllIn(text).size
      }

  test("the executor byte-copy job has one site") {
    val sites = mainSites("FileUtil\\.copy\\(")
    assert(sites == Seq("Sinks.scala" -> 1),
      s"copy files through Sinks.copyFiles, not a job of your own: $sites")
  }

  test("base generations get their key bloom filters at one site") {
    val sites = mainSites("parquet\\.bloom\\.filter\\.enabled#")
    assert(sites == Seq("VersionedStore.scala" -> 1),
      s"write generations through VersionedStore.generationWriter: $sites")
  }

  test("the schema-evolution marker fence has one site") {
    val sites = mainSites("_schema-\\$epoch")
    assert(sites == Seq("VersionedStore.scala" -> 1),
      s"fence schema evolution through VersionedStore.writeSchemaFence: $sites")
  }
}
