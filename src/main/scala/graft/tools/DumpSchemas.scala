package graft.tools
object DumpSchemas {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-dump-schemas")
    val lake = graft.Lake(spark, "/root/testdata/sf0.01")
    for (n <- graft.Lake.tableNames) {
      val df = if (n == "events") lake.events else lake.table(n)
      println(s"TABLE $n = " + df.schema.fields.map(f =>
        s"${f.name}:${f.dataType.catalogString}").mkString("; "))
    }
    spark.stop()
  }
}
