package graft

import org.apache.spark.sql.types._

/** DESCRIBE replay support: Hive's DESCRIBE TABLE column-block
  * rendering (MetaDataFormatUtils.getAllColumnsInformation — %-20s
  * padded name/type/comment fields) and DESCRIBE FUNCTION docs
  * re-derived at test time from the reference's own `@Description`
  * annotations + FunctionRegistry registration order
  * (ql/exec/DDLTask.java:3040-3092 describeFunction;
  * ql/exec/Registry.java:428 getFunctionSynonyms iterates the
  * LinkedHashMap in registration order). Nothing is vendored: the
  * annotation text is parsed from the reference sources when the
  * suite runs, exactly like the golden files themselves.
  */
object GoldenDescribe {

  private val qlJava =
    s"${Reference.Root}/ql/src/java/org/apache/hadoop/hive/ql"

  // ---------------------------------------------------------------
  // column-block rendering — the layout lives in the SHIPPED engine
  // (graft.meta.MetaRender); these forwarders keep the harness's
  // call sites stable.
  // ---------------------------------------------------------------

  def pad(s: String): String = graft.meta.MetaRender.pad(s)

  def colLine(name: String, typ: String, comment: String): String =
    graft.meta.MetaRender.colLine(name, typ, comment)

  def colLines(name: String, typ: String, comment: String): Seq[String] =
    graft.meta.MetaRender.colLines(name, typ, comment)

  val sepLine = graft.meta.MetaRender.sepLine
  val partInfoHeader: Seq[String] = graft.meta.MetaRender.partInfoHeader

  def hiveTypeName(dt: DataType): String =
    graft.meta.MetaRender.hiveTypeName(dt)

  // ---------------------------------------------------------------
  // function docs
  // ---------------------------------------------------------------

  /** (nameLc, simpleClassName) in FunctionRegistry registration order. */
  lazy val registrations: Vector[(String, String)] = {
    val src = scala.io.Source.fromFile(
      s"$qlJava/exec/FunctionRegistry.java")
    try {
      ("register\\w*\\(\\s*\"([^\"]+)\"\\s*,\\s*(?:new\\s+)?" +
        "([A-Za-z0-9_]+)").r
        .findAllMatchIn(src.mkString)
        .map(m => (m.group(1).toLowerCase, m.group(2)))
        .toVector ++ constNamed
    } finally src.close()
  }

  /** Registrations whose NAME is a constant reference the literal
    * parse can't see (FunctionRegistry.java:165-177,286-287,503-535):
    * unary ops, lead/lag, the PTF resolvers, the mask family
    * (GenericUDFMask.UDF_NAME etc.). */
  private val constNamed: Vector[(String, String)] = Vector(
    "positive" -> "GenericUDFOPPositive",
    "negative" -> "GenericUDFOPNegative",
    "lead" -> "GenericUDFLead",
    "lag" -> "GenericUDFLag",
    "noop" -> "NoopResolver",
    "noopwithmap" -> "NoopWithMapResolver",
    "noopstreaming" -> "NoopStreamingResolver",
    "noopwithmapstreaming" -> "NoopWithMapStreamingResolver",
    "windowingtablefunction" -> "WindowingTableFunctionResolver",
    "matchpath" -> "MatchPathResolver",
    "mask" -> "GenericUDFMask",
    "mask_first_n" -> "GenericUDFMaskFirstN",
    "mask_last_n" -> "GenericUDFMaskLastN",
    "mask_show_first_n" -> "GenericUDFMaskShowFirstN",
    "mask_show_last_n" -> "GenericUDFMaskShowLastN",
    "mask_hash" -> "GenericUDFMaskHash")

  private lazy val byName: Map[String, String] = {
    // first registration wins (LinkedHashMap putIfAbsent-like: later
    // re-registrations of a name are rare and replace, but describe
    // targets are stable names)
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    registrations.foreach { case (n, c) => if (!m.contains(n)) m(n) = c }
    m.toMap
  }

  /** simple class name → (fully-qualified name, @Description value,
    * @Description extended) parsed from the reference source tree. */
  lazy val classDocs: Map[String, (String, String, String)] = {
    val idx = scala.collection.mutable.Map[String, java.io.File]()
    def walk(d: java.io.File): Unit =
      Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.endsWith(".java"))
          idx.getOrElseUpdate(f.getName.stripSuffix(".java"), f)
      }
    walk(new java.io.File(qlJava))
    val wanted = registrations.map(_._2).toSet
    wanted.flatMap { cls =>
      idx.get(cls).flatMap { f =>
        val txt = {
          val s = scala.io.Source.fromFile(f, "UTF-8")
          try s.mkString finally s.close()
        }
        val pkg = "package\\s+([\\w.]+)\\s*;".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        parseDescription(txt).map { case (v, e) =>
          cls -> (s"$pkg.$cls", v, e)
        }.orElse(Some(cls -> (s"$pkg.$cls", null, null)))
      }
    }.toMap
  }

  /** Extract (value, extended) from the first @Description annotation. */
  private def parseDescription(txt: String)
      : Option[(String, String)] = {
    val at = txt.indexOf("@Description")
    if (at < 0) return None
    val open = txt.indexOf('(', at)
    if (open < 0) return None
    // balanced scan, string-aware
    var i = open; var depth = 0; var end = -1; var inStr = false
    while (i < txt.length && end < 0) {
      val c = txt.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) end = i
        case _ =>
      }
      i += 1
    }
    if (end < 0) return None
    val body = txt.substring(open + 1, end)
    def field(name: String): String = {
      val m = (name + "\\s*=").r.findFirstMatchIn(body)
        .getOrElse(return "")
      // take string literals until the next field assignment or end
      var j = m.end
      val sb = new StringBuilder
      var stop = false
      while (j < body.length && !stop) {
        val c = body.charAt(j)
        if (c == '"') {
          var k = j + 1
          while (k < body.length && body.charAt(k) != '"') {
            if (body.charAt(k) == '\\') {
              body.charAt(k + 1) match {
                case 'n' => sb.append('\n')
                case 't' => sb.append('\t')
                case '"' => sb.append('"')
                case '\'' => sb.append('\'')
                case '\\' => sb.append('\\')
                case o => sb.append('\\').append(o)
              }
              k += 2
            } else { sb.append(body.charAt(k)); k += 1 }
          }
          j = k + 1
        } else if (c == ',' &&
            "\\s*\\w+\\s*=".r.findPrefixMatchOf(
              body.substring(j + 1)).isDefined) {
          stop = true
        } else j += 1
      }
      sb.toString
    }
    Some((field("value"), field("extended")))
  }

  /** Replay DDLTask.describeFunction: None = don't assert (name not a
    * parsed builtin — temp functions, macros). */
  /** Type-cast function names registered through serdeConstants
    * constants (FunctionRegistry.java:388-404) — the registration
    * regex below only sees string literals. All lack @Description:
    * DESCRIBE prints the no-documentation line. */
  private val typeCastFns: Map[String, String] = {
    val udf = "org.apache.hadoop.hive.ql.udf."
    Map(
      "boolean" -> s"${udf}UDFToBoolean",
      "tinyint" -> s"${udf}UDFToByte",
      "smallint" -> s"${udf}UDFToShort",
      "int" -> s"${udf}UDFToInteger",
      "bigint" -> s"${udf}UDFToLong",
      "float" -> s"${udf}UDFToFloat",
      "double" -> s"${udf}UDFToDouble",
      "string" -> s"${udf}UDFToString",
      "date" -> s"${udf}generic.GenericUDFToDate",
      "timestamp" -> s"${udf}generic.GenericUDFTimestamp",
      "interval_year_month" -> s"${udf}generic.GenericUDFToIntervalYearMonth",
      "interval_day_time" -> s"${udf}generic.GenericUDFToIntervalDayTime",
      "binary" -> s"${udf}generic.GenericUDFToBinary",
      "decimal" -> s"${udf}generic.GenericUDFToDecimal",
      "varchar" -> s"${udf}generic.GenericUDFToVarchar",
      "char" -> s"${udf}generic.GenericUDFToChar")
  }

  /** Reference-parsed doc source feeding the SHIPPED renderer
    * (graft.meta.FunctionDocs.render owns the DDLTask.describeFunction
    * layout — ql/exec/DDLTask.java:3040-3092; this lookup supplies the
    * reference's own annotation text and registration-order
    * synonyms). */
  private def refLookup(nLc: String): Option[graft.meta.FnDoc] = {
    typeCastFns.get(nLc).foreach { fq =>
      return Some(graft.meta.FnDoc(fq, null, null, Nil))
    }
    byName.get(nLc).map { cls =>
      val (fq, v, e) = classDocs.getOrElse(cls,
        // registered but undocumented (the Noop PTF resolvers)
        (null: String, null: String, null: String))
      val syn = {
        val seen = scala.collection.mutable.LinkedHashSet[String]()
        registrations.foreach { case (rn, rc) =>
          if (rc == cls) seen += rn }
        seen.toVector
      }
      graft.meta.FnDoc(fq, v, e, syn)
    }
  }

  def describeFunction(nameTyped: String, extended: Boolean)
      : Option[Seq[String]] =
    Some(graft.meta.FunctionDocs.render(nameTyped, extended, refLookup))
}
