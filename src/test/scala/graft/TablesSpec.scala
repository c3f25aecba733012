package graft

class TablesSpec extends SparkSpec {
  test("all tables load with their expected schemas") {
    Tables.all.foreach { t =>
      val df = Tables.load(spark, sfDir, t)
      assert(df.columns.toSet == Tables.expectedColumns(t).toSet, s"table $t")
    }
  }

  test("events ts arrives as microsecond TimestampType") {
    val df = Tables.events(spark, sfDir)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(df.count() > 0)
  }

  test("events ts µs values match the oracle regardless of read mode") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Pins the VALUE contract, not just the type: DuckDB reads event_id=0
    // of sf0.001 as epoch µs 1704067798778549 (2024-01-01 00:09:58.778549
    // UTC). A future engine read-mode shift (nanosAsLong long vs native
    // TIMESTAMP_NTZ — both handled by the loader's schema dispatch) must
    // keep producing this exact instant or fail here on values.
    val first = Tables.events(spark, sfDir)
      .filter($"event_id" === 0L)
      .select(unix_micros($"ts"))
      .as[Long].head()
    assert(first == 1704067798778549L)
  }

  test("registerAll exposes every table and native function to spark.sql") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    Tables.all.foreach { t =>
      assert(spark.sql(s"SELECT count(*) AS n FROM $t").as[Long].head() > 0, t)
    }
    // the events view carries the ns→µs loader conversion
    assert(spark.sql("SELECT date_trunc('hour', ts) AS h FROM events LIMIT 1")
      .schema("h").dataType == org.apache.spark.sql.types.TimestampType)
    // native functions resolve through the same SQL surface
    val c = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM embeddings LIMIT 1")
      .as[Double].head()
    assert(math.abs(c - 1.0) < 1e-9)
    val g = spark.sql(
      "SELECT size(token_gram_hashes('a b c d', 3)) AS n").as[Int].head()
    assert(g == 2)
  }

  test("schema drift fails fast with a named column list") {
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    Tables.orders(spark, sfDir).drop("o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val e = intercept[IllegalArgumentException](Tables.load(spark, dir, "orders"))
    assert(e.getMessage.contains("o_totalprice"))
  }

  test("a table rewritten in place is checked again, not served from the schema cache") {
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    val path = s"$dir/orders.parquet"
    val orders = Tables.orders(spark, sfDir)
    orders.write.parquet(path)
    // the second load is served from the cached schema
    Seq.fill(2)(assert(Tables.load(spark, dir, "orders").columns.contains("o_totalprice")))
    orders.drop("o_totalprice").write.mode("overwrite").parquet(path)
    val e = intercept[IllegalArgumentException](Tables.load(spark, dir, "orders"))
    assert(e.getMessage.contains("o_totalprice"))
  }
}
