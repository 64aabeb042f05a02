package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.core.Json
import graft.core.Models.Issue
import graft.stages.Validate

/** Validate renders its JSONL sinks on the driver with `Json.lines`; the
  * oracle is Spark's own JSON writer over the same rows, `issues` as its
  * `to_json` string, which shares no code with the helper. The two must
  * agree byte for byte.
  */
class JsonLinesSpec extends SparkSuite {

  private val hostile = "q\"uote \\back\nnl\ttab\r\b\f\u0000nul\u001f\u2028ls\u2029 ünï 日本 \ud83d\ude00"
  private val long8k = ("ab\"\\\u2028" * 1600).take(8000)

  /** (episode, chunk, uri, front, wrist, rows, frame_min, frame_max, expected, issues) */
  private val rows: Seq[(java.lang.Long, String, String, String, String, java.lang.Long,
      java.lang.Long, java.lang.Long, java.lang.Long, Seq[Issue])] = Seq(
    (3L, hostile, "file:/d/pct%41x/sp ace/episode_000003.parquet", long8k, null,
      12L, 0L, 11L, null, Seq(Issue("frame_index_start", hostile), Issue("k\"ind", null))),
    (null, null, null, null, null, null, null, null, null, Seq.empty),
    (-1L, "000", "/ü/日本", null, "w", Long.MaxValue, Long.MinValue, 0L, 7L,
      Seq(Issue("parquet_missing", "null"), Issue("x", long8k))))

  private def asRow(r: Product): Row = {
    val v = r.productIterator.toSeq
    val issues = v.last.asInstanceOf[Seq[Issue]]
    Row.fromSeq(v.take(5) ++ Seq(issues.isEmpty) ++ v.slice(5, 9) :+
      issues.map(i => Row(i.kind, i.detail)))
  }

  test("Json.lines renders failures.jsonl rows byte for byte as Spark's JSON writer") {
    val table = spark.createDataFrame(rows.map(asRow).asJava, Validate.ResultSchema)
      .withColumn("issues", to_json(col("issues")))
    val dir = s"${tmpDir("jsonl_oracle")}/out"
    table.coalesce(1).write.json(dir)
    val part = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(part.size === 1)
    val spark_ = Files.readAllBytes(part.head)

    val mine = Json.lines(rows.map(asRow).map { r =>
      Validate.ResultSchema.fieldNames.toSeq.init.zip(r.toSeq.init) :+
        ("issues" -> Validate.issuesJson(r.getSeq[Row](10).map(i => Issue(i.getString(0), i.getString(1)))))
    }).getBytes("UTF-8")
    assert(new String(mine, "UTF-8") === new String(spark_, "UTF-8"))
    assert(mine.sameElements(spark_))
  }

  test("no rows render no text, as Spark's writer leaves an empty file") {
    assert(Json.lines(Nil) === "")
  }
}
