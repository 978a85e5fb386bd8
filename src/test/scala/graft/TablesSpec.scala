package graft

import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables` reads a single-file table with the schema of its parquet
  * footer: the schema Spark's inference gives, without inference's job,
  * and without touching the caller's session conf. */
class TablesSpec extends SparkSpec {
  private val sf01 = new java.io.File(sf).getParent + "/sf0.01"
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** An `events` table of `(event_id, ts)` whose `ts` is parquet
    * INT64 TIMESTAMP(`unit`) without the UTC flag, written by parquet-mr. */
  private def eventsFile(unit: String, ts: Seq[Long]): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory(s"graft-events-$unit").toString
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts (TIMESTAMP($unit,false)); }")
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), conf)).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", t))
    } finally w.close()
    dir
  }

  test("every sf0.01 table loads with the schema Spark's inference gives") {
    for (n <- names)
      assert(Tables.load(spark, sf01, n).schema ===
        spark.read.parquet(s"$sf01/$n.parquet").schema, n)
  }

  test("the single-file fan-out layout loads with the schema Spark's inference gives") {
    val (one, _) = graft.operators.FanOutRegimeSpec.layouts
    assert(Tables.documents(spark, one).schema ===
      spark.read.parquet(s"$one/documents.parquet").schema)
  }

  test("a warm load of a single-file table runs no Spark job") {
    names.foreach(Tables.load(spark, sf01, _))
    val (jobs, _) = jobsAndSql {
      names.foreach(Tables.load(spark, sf01, _))
      Tables.events(spark, sf01)
      Tables.fannedDocuments(spark, sf01)
    }
    assert(jobs === 0)
  }

  test("events: TIMESTAMP(NANOS) and its MICROS twin load as the same instants, the session conf untouched") {
    // sub-microsecond digits on two rows: the nanos path truncates them
    val nanos = Seq(1700000000123456789L, 1700000001000000000L, 1000L, 1700000002999999999L)
    val nanosDir = eventsFile("NANOS", nanos)
    val microsDir = eventsFile("MICROS", nanos.map(_ / 1000))
    // explicitly off: the loader must neither need the conf nor set it
    val before = spark.conf.getOption(nanosAsLong)
    spark.conf.set(nanosAsLong, "false")
    try {
      assert(Tables.load(spark, nanosDir, "events").schema("ts").dataType === LongType)
      def instants(dir: String) = {
        val df = Tables.events(spark, dir)
        assert(df.schema("ts").dataType === TimestampType)
        df.orderBy("event_id").collect().map(_.getTimestamp(1).toInstant).toSeq
      }
      val (fromNanos, fromMicros) = (instants(nanosDir), instants(microsDir))
      assert(fromNanos === fromMicros)
      assert(fromMicros === nanos.map(t => java.time.Instant.ofEpochSecond(0, t / 1000 * 1000)))
      assert(spark.conf.get(nanosAsLong) === "false")
    } finally before.fold(spark.conf.unset(nanosAsLong))(spark.conf.set(nanosAsLong, _))
  }
}
