package graft.ingest

import graft.SparkTestBase
import graft.state.StateStore
import ConfigModel._

/** Mirrors the reference's config-validation rules
  * (`ConfigValidator.java:29-174`) with cases lifted from its fixture
  * configs (reference `configs/` JSON files) and the illegal-conversion
  * table (`README.md:325-343`), plus declared reads through the
  * registry of the reference's test scenarios, rebuilt from their
  * descriptions as the CSVs in `src/test/resources/reference_tests`.
  */
class ConfigValidatorSpec extends SparkTestBase {

  private val refTests =
    java.nio.file.Paths.get(getClass.getResource("/reference_tests").toURI).toString

  /** standard_config.json re-expressed in the model. */
  private def standardSetting(
      path: String = s"$refTests/standard_test.csv",
      delimiter: String = ",",
      suffix: String = ""): CsvSetting =
    CsvSetting(
      timestampColumn = Some(CsvColumn("Timestamp", CTime, tsFormat = CsvSource.Unix)),
      columns = Seq(
        CsvColumn("CreatedTime", CTime, Some(s"createdTime$suffix"), tsFormat = CsvSource.Iso),
        CsvColumn("Tag", CString, Some(s"sensorTag$suffix"), isPathColumn = true),
        CsvColumn("Value", CDouble, Some(s"sensorValue$suffix"))),
      filePaths = Seq(path),
      delimiter = delimiter)

  private def standardDevice(suffix: String = ""): Device =
    Device("root.powerplant", Some(s"sensorTag$suffix"), Seq(
      Measurement("sensorValue", DOUBLE, s"sensorValue$suffix"),
      Measurement("createdTime", INT64, s"createdTime$suffix")))

  private def standardConfig: MigrationConfig =
    MigrationConfig(Seq(standardSetting()), Seq(standardDevice()))

  private def failsWith(msg: String)(config: MigrationConfig): Unit = {
    val e = intercept[IllegalArgumentException](ConfigValidator.validate(config))
    assert(e.getMessage.contains(msg), s"got: ${e.getMessage}")
  }

  test("standard config validates") {
    ConfigValidator.validate(standardConfig)
  }

  test("missing timestamp column fails") {
    failsWith("timestamp column")(MigrationConfig(
      Seq(standardSetting().copy(timestampColumn = None)), Seq(standardDevice())))
  }

  test("nonexistent file path fails unless checkFiles=false") {
    val cfg = MigrationConfig(
      Seq(standardSetting(path = "/nope/missing.csv")), Seq(standardDevice()))
    failsWith("does not exist")(cfg)
    ConfigValidator.validate(cfg, checkFiles = false)
  }

  test("reserved joinKey 'timestamp' fails (case-insensitive)") {
    val s = standardSetting()
    val bad = s.copy(columns = s.columns.head.copy(joinKey = Some("Timestamp")) +: s.columns.tail)
    failsWith("reserved")(MigrationConfig(Seq(bad), Seq(standardDevice())))
  }

  test("duplicate joinKey across settings fails") {
    failsWith("Duplicate joinKey")(MigrationConfig(
      Seq(standardSetting(), standardSetting(s"$refTests/multiple_devices_test.csv")),
      Seq(standardDevice())))
  }

  test("path column unused by any device fails") {
    failsWith("path column is not used")(MigrationConfig(
      Seq(standardSetting()),
      Seq(standardDevice().copy(pathColumn = None))))
  }

  test("measurement joinKey matching no CSV joinKey fails") {
    val d = standardDevice()
    failsWith("does not match any CSV joinKey")(MigrationConfig(
      Seq(standardSetting()),
      Seq(d.copy(measurements = d.measurements :+ Measurement("ghost", TEXT, "ghostKey")))))
  }

  test("unused CSV joinKey fails") {
    val s = standardSetting()
    failsWith("Unused joinKey")(MigrationConfig(
      Seq(s.copy(columns = s.columns :+ CsvColumn("Extra", CString, Some("extraKey")))),
      Seq(standardDevice())))
  }

  test("conversion legality matrix matches README.md:325-343") {
    import ConfigValidator.isValidConversion
    // legal
    assert(isValidConversion(CDouble, INT32))
    assert(isValidConversion(CBoolean, INT64))
    assert(isValidConversion(CTime, INT64))
    Seq(INT32, INT64, FLOAT, DOUBLE, BOOLEAN, TEXT).foreach(t =>
      assert(isValidConversion(CString, t), s"STRING->$t must be legal"))
    // illegal
    assert(!isValidConversion(CBoolean, DOUBLE))
    assert(!isValidConversion(CBoolean, FLOAT))
    assert(!isValidConversion(CTime, INT32))
    assert(!isValidConversion(CTime, DOUBLE))
    assert(!isValidConversion(CDouble, BOOLEAN))
    // end-to-end: an illegal pair rejects the whole config
    val d = standardDevice()
    failsWith("Invalid conversion")(MigrationConfig(
      Seq(standardSetting()),
      Seq(d.copy(measurements =
        d.measurements.head +: Seq(Measurement("createdTime", INT32, "createdTime"))))))
  }

  test("declared read: standard fixture parses fully, named by joinKey") {
    val (valid, rejects) = CsvSource.readDeclared(spark, standardSetting())
    assert(valid.columns.toSeq ==
      Seq("timestamp", "createdTime", "sensorTag", "sensorValue"))
    assert(rejects.count() == 0)
    assert(valid.count() == 10)
    assert(valid.filter(org.apache.spark.sql.functions.col("timestamp").isNull).count() == 0)
  }

  test("declared read: invalid_data_types rejects exactly the bad rows") {
    val setting = standardSetting(s"$refTests/invalid_data_types_test.csv")
    val (valid, rejects) = CsvSource.readDeclared(spark, setting)
    assert(valid.count() == 3)
    val rej = rejects.collect()
    assert(rej.length == 2)
    assert(rej.forall(_.getAs[String]("reject_reason") == "bad typed value"))
  }

  test("declared read: missing values stay null, rows are not rejected") {
    val setting = standardSetting(s"$refTests/missing_values_test.csv")
    val (valid, rejects) = CsvSource.readDeclared(spark, setting)
    assert(valid.count() == 5 && rejects.count() == 0)
    assert(valid.filter(org.apache.spark.sql.functions.col("sensorValue").isNull).count() == 1)
  }

  test("declared read: one-scan counts match the split frames") {
    val setting = standardSetting(s"$refTests/invalid_data_types_test.csv")
    val (v, r) = CsvSource.declaredCounts(spark, setting)
    val (valid, rejects) = CsvSource.readDeclared(spark, setting)
    assert((v, r) == (valid.count(), rejects.count()), s"got ($v, $r)")
  }

  test("declared read: ambiguous output names fail fast, not silently shadow") {
    // a raw data column literally named 'timestamp' (joinKey None →
    // output name 'timestamp') would collide with the parsed-ts output;
    // before the single-select staging rework it was silently CLOBBERED
    // by the parse before its typed expression read it
    val dir = tmpDir("ambig")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.csv"),
      "Ts,timestamp,Tag,Value\n1709286400,99,t1,1.5\n".getBytes)
    val setting = CsvSetting(
      timestampColumn = Some(CsvColumn("Ts", CTime, tsFormat = CsvSource.Unix)),
      columns = Seq(
        CsvColumn("timestamp", CLong),
        CsvColumn("Tag", CString, Some("sensorTag"), isPathColumn = true),
        CsvColumn("Value", CDouble, Some("sensorValue"))),
      filePaths = Seq(s"$dir/a.csv"))
    val e = intercept[IllegalArgumentException](
      CsvSource.readDeclared(spark, setting))
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
    // the same raw header used AS the timestamp source stays legal
    val ok = setting.copy(
      timestampColumn = Some(CsvColumn("timestamp", CTime, tsFormat = CsvSource.Unix)),
      columns = setting.columns.tail)
    val (valid, rejects) = CsvSource.readDeclared(spark, ok)
    assert(valid.count() == 1 && rejects.count() == 0)
  }

  test("registry: validates once, runs every setting, records status") {
    val stateDir = tmpDir("registry-state")
    val state = new StateStore(stateDir)
    val cfg = MigrationConfig(
      Seq(standardSetting(),
        standardSetting(s"$refTests/different_delimiter_test.csv",
          delimiter = ";", suffix = "2")),
      Seq(standardDevice(), standardDevice("2")))
    val reg = new SettingsRegistry(cfg, Some(state))
    val results = reg.runAll(spark, jobId = "reg-test")
    assert(results.map(_.status) == Seq("COMPLETED", "COMPLETED"))
    assert(results.head.validRows == 10 && results(1).validRows == 5)
    val lin = state.lineage.filter(_.tier == "csv_setting")
    assert(lin.map(_.partition).toSet == Set("setting-0", "setting-1"))
    assert(lin.forall(_.status == "COMPLETED"))
  }

  test("registry construction fails fast on an invalid config") {
    intercept[IllegalArgumentException] {
      new SettingsRegistry(MigrationConfig(
        Seq(standardSetting()), Seq(standardDevice().copy(pathColumn = None))))
    }
  }
}
