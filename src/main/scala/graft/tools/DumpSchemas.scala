package graft.tools
object DumpSchemas {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-dump-schemas")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val lake = graft.Lake(spark, sfDir)
    for (n <- graft.Lake.tableNames) {
      val df = if (n == "events") lake.events else lake.table(n)
      println(s"TABLE $n = " + df.schema.fields.map(f =>
        s"${f.name}:${f.dataType.catalogString}").mkString("; "))
    }
    spark.stop()
  }
}
