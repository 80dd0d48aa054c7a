package graftbench

import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {
  test("a job is attributed to the first engine frame of its call site") {
    val site = Seq(
      "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
      "graft.lake.LakeTable.writeDataFilesTo(LakeTable.scala:938)",
      "graft.cdc.Merge$.applyMorOnce(Merge.scala:409)",
      "graftbench.Workloads$.apply$1(Workloads.scala:130)").mkString("\n")
    assert(Tracer.moduleOf(site).contains("lake"))
    assert(Tracer.moduleOf(site.linesIterator.filterNot(_.contains("LakeTable")).mkString("\n")).contains("cdc"))
  }

  test("benchmark and Spark frames name no module") {
    val site = Seq(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
      "graftbench.Run.lookup(Run.scala:74)").mkString("\n")
    assert(Tracer.moduleOf(site).isEmpty)
  }

  test("covered time counts overlapping intervals once") {
    assert(Tracer.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    assert(Tracer.covered(Nil) == 0.0)
  }
}
