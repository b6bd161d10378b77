package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Parses the `pipeline.yaml` of every `examples/<name>_spark` of this
  * repository, so the config loader is covered on every host, with or
  * without the reference checkout that [[PipelineConfigSpec]] reads. */
class PipelineExamplesSpec extends AnyFunSuite {

  /** The examples directory, resolved like [[SqlPipelineSpec]]: the
    * working directory's `examples/` first, then the project's own (the
    * test classes directory sits three levels below the project root). */
  private val examples: java.io.File = {
    val local = new java.io.File("examples")
    if (local.isDirectory) local
    else new java.io.File(new java.io.File(getClass.getProtectionDomain
      .getCodeSource.getLocation.toURI).getParentFile.getParentFile
      .getParentFile, "examples")
  }

  test("every examples/*_spark/pipeline.yaml parses with its files present") {
    val dirs = examples.listFiles().filter(d =>
      d.isDirectory && d.getName.endsWith("_spark")).sortBy(_.getName)
    assert(dirs.length >= 9, s"expected the nine example pipelines in $examples")
    dirs.foreach { d =>
      val c = PipelineConfig.load(new java.io.File(d, "pipeline.yaml").getPath)
      assert(c.maxBatchSize > 0, d.getName)
      assert(c.steps.nonEmpty, d.getName)
      val files = c.setupFiles ++ c.steps.collect {
        case s: PipelineConfig.Stage => s.files
      }.flatten
      assert(files.nonEmpty, d.getName)
      files.foreach { f =>
        assert(new java.io.File(d, f).isFile, s"${d.getName}: missing $f")
      }
    }
  }
}
