package graft.tools

import graft.extract.ExtractAll
import graft.pipeline.DocsSource

/** End-to-end smoke drive: fixtures → Dataset[Doc] → distributed extraction
  * → records + out-span stats on stdout. `sbt "runMain graft.tools.DemoExtract"`. */
object DemoExtract {
  def main(args: Array[String]): Unit = {
    val spark = Queries.session()
    import spark.implicits._

    val path = args.headOption.getOrElse("src/test/resources/fixtures/docs/*/*.json")
    val docs = DocsSource.fixtureJson(spark, path)
    val records = docs.mapPartitions(_.flatMap(ExtractAll.extractRecord))
    val outSpans = docs.mapPartitions(_.map(ExtractAll.outSpans))

    println(s"docs=${docs.count()} records=${records.count()} outSpanDocs=${outSpans.count()}")
    records
      .select($"doc_id", $"case_number", $"plaintiff", $"defendant", $"language", $"document_type")
      .orderBy($"doc_id")
      .show(8, truncate = 40)
    records.groupBy($"language", $"document_type").count().orderBy($"count".desc).show()
    spark.stop()
  }
}
