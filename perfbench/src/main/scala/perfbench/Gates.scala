package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import org.apache.spark.sql.{Row, SparkSession}
import graft.queries._

/** A fixed gate list, timed through `SparkEntry.queries(name)`: one span
  * per gate call covering the plan build and `collect()`. After each call
  * and outside its span, the gate's pinned tables are released (as in
  * `graft.Bench`) and its rows are hashed; the first pass also writes the
  * rows as parquet for the DuckDB oracle compare (`oracle.py`).
  */
final class Gates(spark: SparkSession, tr: Tracer, tablesDir: String,
    val names: Seq[String]) {
  private val queries = graft.SparkEntry.queries
  private val firstSeen = scala.collection.mutable.Map[String, (Long, String)]()

  /** Runs every gate once. Returns (gate, error) for the calls that threw
    * or whose rows differ from this gate's first pass.
    */
  def pass(dumpDir: Option[Path]): Seq[(String, String)] = tr.span("pass", "gates") {
    names.flatMap { name =>
      val rows = try Right(tr.span("queries", name) {
          val df = queries(name)(spark, tablesDir)
          (df.schema, df.collect())
        }) catch { case e: Exception => Left(e) }
      graft.ops.Pins.releaseAll(spark)
      rows match {
        case Left(e) => Some(name -> s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right((schema, rs)) => tr.span("check", name) {
          val fp = (rs.length.toLong, Gates.hash(rs))
          dumpDir.foreach(d => spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(d.resolve(name).toString))
          firstSeen.get(name) match {
            case Some(prev) if prev != fp =>
              Some(name -> s"rows/hash $fp differ from the first pass $prev")
            case Some(_) => None
            case None => firstSeen(name) = fp; None
          }
        }
      }
    }
  }

  def oracleJson: String = {
    val sql = graft.SparkEntry.oracleSql
    names.flatMap(n => sql.get(n).map(s => s"${Json.str(n)}: ${Json.str(s)}"))
      .mkString("{", ",\n", "}")
  }
}

object Gates {
  /** Gate-visible query modules, by the object that defines them. */
  val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "TextQueries" -> TextQueries.all,
    "DedupQueries" -> DedupQueries.all, "SimilarityQueries" -> SimilarityQueries.all,
    "StreamingQueries" -> StreamingQueries.all, "SamplingQueries" -> SamplingQueries.all,
    "CorpusQueries" -> CorpusQueries.all, "GraphQueries" -> GraphQueries.all,
    "CurationQueries" -> CurationQueries.all, "BpeQueries" -> BpeQueries.all,
    "ClassifierQueries" -> ClassifierQueries.all, "BehaviorQueries" -> BehaviorQueries.all)

  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** Order-insensitive hash of a result: each row rendered as text, lines
    * sorted, SHA-256 over the sorted lines.
    */
  def hash(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "NULL"
      case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
      case a: Array[Byte] => a.mkString("b[", ",", "]")
      case x => x.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(render).mkString("|")).sorted
      .foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def readList(f: Path): Seq[String] =
    Files.readAllLines(f).toArray(Array.empty[String]).toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
}
