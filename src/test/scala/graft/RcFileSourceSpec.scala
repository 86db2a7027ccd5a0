package graft

import org.apache.spark.sql.types._

/** RCFile reader against real reference-era container files
  * (ql/io/RCFile.java on-disk contract). */
class RcFileSourceSpec extends SparkSpec {

  private val dataDir = s"${Reference.Root}/data/files"

  test("reads an uncompressed RCFile with known content") {
    val schema = StructType(Seq(StructField("key", IntegerType),
      StructField("value", StringType)))
    val df = sources.RcFileIO.read(spark, s"$dataDir/smbbucket_1.rc", schema)
    val rows = df.collect().map(r => (r.get(0), r.get(1))).toSet
    assert(rows.nonEmpty)
    // cross-check against the reference's smb_mapjoin_1 golden: the
    // smb_bucket_1 fixture holds keys 1,3,4,5,10 with val_<key> values
    assert(rows.contains((1, "val_1")))
    assert(rows.contains((10, "val_10")))
    assert(df.count() === 5)
  }

  test("column projection types lazy-parse (unparseable -> null)") {
    // read value column as int: "val_1" fails the lazy parse => null
    val schema = StructType(Seq(StructField("key", IntegerType),
      StructField("value", IntegerType)))
    val df = sources.RcFileIO.read(spark, s"$dataDir/smbbucket_1.rc", schema)
    assert(df.where("value is null").count() === df.count())
    assert(df.where("key is not null").count() === df.count())
  }

  test("reads a codec-compressed RCFile") {
    // part.rc: the reference part table written as RCFile
    val schema = StructType(Seq(
      StructField("p_partkey", IntegerType),
      StructField("p_name", StringType),
      StructField("p_mfgr", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_container", StringType),
      StructField("p_retailprice", DoubleType),
      StructField("p_comment", StringType)))
    val df = sources.RcFileIO.read(spark, s"$dataDir/part.rc", schema)
    assert(df.count() > 0)
    assert(df.where("p_partkey is not null and p_name is not null")
      .count() === df.count())
  }
}
