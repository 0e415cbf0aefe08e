package graft

import java.nio.file.Files

import graft.model.Tables

/** The table loader's JVM-lifetime schema cache must notice a table
  * rewritten in place: reading a new schema through the old one would
  * silently null-fill the new columns.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a table rewritten with a new schema is read with its new columns") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    Seq(1L, 2L).toDF("a").write.mode("overwrite").parquet(path)
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    Seq((3L, "x"), (4L, "y")).toDF("a", "b")
      .write.mode("overwrite").parquet(path)
    val again = Tables.table(spark, dir, "t")
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.orderBy("a").as[(Long, String)].collect().toSeq ==
      Seq((3L, "x"), (4L, "y")))
  }
}
