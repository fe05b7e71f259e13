package graft.core

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import graft.SparkSpec

/** `Tables.load` reads a table's parquet footer once per version of its
  * files, and a table rewritten under the same path is a new version. */
class TablesSpec extends SparkSpec {

  test("a table rewritten under the same path with a different schema is read fresh") {
    val dir = Paths.get("target", "tables-spec").toAbsolutePath
    val path = s"$dir/embeddings.parquet"
    try {
      spark.range(3).toDF("vec_id").write.mode("overwrite").parquet(path)
      assert(Tables.embeddings(spark, dir.toString).columns.toSeq == Seq("vec_id"))
      assert(Tables.embeddings(spark, dir.toString).count() == 3)

      spark.range(2).selectExpr("id AS vec_id", "cast(id AS int) + 10 AS label")
        .write.mode("overwrite").parquet(path)
      val fresh = Tables.embeddings(spark, dir.toString)
      assert(fresh.columns.toSeq == Seq("vec_id", "label"))
      assert(fresh.collect().map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq ==
        Seq(0L -> 10, 1L -> 11))
    } finally if (Files.exists(dir))
      Using.resource(Files.walk(dir))(_.iterator().asScala.toSeq).reverse.foreach(Files.deleteIfExists(_))
  }
}
