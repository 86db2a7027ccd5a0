package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structural conversion of stored columns to an ALTERed schema, the
  * way Hive's columnar readers evolve types at read time
  * (ref ql/io/parquet/read/DataWritableReadSupport.java — parquet
  * matches requested columns by name; ql/exec/FetchOperator partition
  * OI converters for the positional text contract):
  *
  *  - struct fields match by NAME: missing fields read null, surplus
  *    stored fields drop (re-adding a dropped field on a format whose
  *    files keep it restores the stored value — callers that model
  *    files, not materialized rows, re-derive from stored segments);
  *  - arrays and maps convert element-wise;
  *  - parquet's repeated-group encoding lets array<struct<k,v,..>> be
  *    re-read as map over the struct's first two fields;
  *  - leaves cast value-wise (float widens in BINARY:
  *    0.3f -> 0.30000001192092896, unlike text re-parsing);
  *  - a reinterpretation Cast can't express (array<int> -> int) goes
  *    through text, like re-reading the stored bytes.
  */
object SchemaEvolution {

  /** Convert one stored column from its written type to a requested
    * type (see class doc for the matching rules). */
  def convertStored(c: Column, from: DataType, to: DataType): Column =
    (from, to) match {
      case (f, t) if f == t => c
      case (f: StructType, t: StructType) =>
        val fields = t.fields.map { tf =>
          f.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
            case Some(sf) =>
              convertStored(c.getField(sf.name), sf.dataType, tf.dataType)
                .as(tf.name)
            case None => lit(null).cast(tf.dataType).as(tf.name)
          }
        }
        when(c.isNotNull, struct(fields.toIndexedSeq: _*))
      case (ArrayType(fe, _), ArrayType(te, _)) =>
        transform(c, x => convertStored(x, fe, te))
      case (MapType(fk, fv, _), MapType(tk, tv, _)) if fk == tk =>
        transform_values(c, (_, v) => convertStored(v, fv, tv))
      case (MapType(fk, fv, _), MapType(tk, tv, _)) =>
        // key-type conversion can null a key or collide two ('1' and
        // '01' → int 1); Hive's lazy read path drops null keys and
        // keeps the LAST occurrence — Spark's map builders throw, so
        // pre-clean the entry array
        map_from_entries(dedupEntries(
          transform(map_entries(c), e => struct(
            convertStored(e.getField("key"), fk, tk).as("key"),
            convertStored(e.getField("value"), fv, tv).as("value")))))
      case (ArrayType(fs: StructType, _), MapType(tk, tv, _))
          if fs.fields.length >= 2 =>
        map_from_entries(dedupEntries(transform(c, s => struct(
          convertStored(s.getField(fs.fields(0).name),
            fs.fields(0).dataType, tk).as("key"),
          convertStored(s.getField(fs.fields(1).name),
            fs.fields(1).dataType, tv).as("value")))))
      case (f, t) =>
        if (org.apache.spark.sql.catalyst.expressions.Cast.canCast(f, t))
          c.cast(t)
        else c.cast(StringType).cast(t)
    }

  /** Drop null-keyed entries and keep the LAST occurrence of each key
    * from an array<struct<key,value>> — the map contract Hive's lazy
    * readers apply where Spark's map builders throw. O(n²) per map,
    * fine for row-sized maps. */
  private def dedupEntries(ents: Column): Column = {
    val nn = filter(ents, e => e.getField("key").isNotNull)
    filter(nn, (e, i) =>
      !exists(slice(nn, i + lit(2), size(nn) - i - lit(1)),
        x => x.getField("key") <=> e.getField("key")))
  }

  /** Project `df` onto a new DATA schema with top-level columns
    * mapping by POSITION (Hive's REPLACE COLUMNS contract: data
    * columns are positional, surplus stored columns drop, extra new
    * columns read null); nested types evolve per [[convertStored]].
    * `partCols` stay untouched and last. */
  def evolveByPosition(df: DataFrame, newData: StructType,
      partCols: Seq[String]): DataFrame = {
    val dataCols = df.schema.fields.filterNot(f =>
      partCols.exists(_.equalsIgnoreCase(f.name)))
    val sel = newData.fields.zipWithIndex.map { case (f, i) =>
      if (i < dataCols.length)
        convertStored(col(dataCols(i).name), dataCols(i).dataType,
          f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ partCols.map(col)
    df.select(sel.toIndexedSeq: _*)
  }
}
