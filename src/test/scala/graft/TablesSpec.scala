package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import graft.core.Tables

class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** `df` as the single parquet file `dir/name.parquet`, replacing any. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("tables_gen").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    Files.move(part, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("load re-infers the schema of a file regenerated at the same path") {
    val dir = Files.createTempDirectory("tables_regen").toString
    writeFile(Seq((1, "a")).toDF("k", "v"), dir, "t")
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq == Seq("k", "v"))
    writeFile(Seq((1L, 2.5, "a")).toDF("id", "x", "label"), dir, "t")
    val again = Tables.load(spark, dir, "t")
    assert(again.schema.fieldNames.toSeq == Seq("id", "x", "label"))
    assert(again.as[(Long, Double, String)].collect().toSeq == Seq((1L, 2.5, "a")))
  }

  test("load's schema follows the schema-affecting parquet confs") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("tables_conf").toString
    // written outside Spark: no Spark schema in the footer, so the
    // unannotated binary column's type is binaryAsString's call
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"file://$dir/t.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "a"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "t").schema("b").dataType.typeName == "binary")
      spark.conf.set(key, "true")
      assert(Tables.load(spark, dir, "t").schema("b").dataType.typeName == "string")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
