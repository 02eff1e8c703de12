package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Canonical form of a query result, so an op's rows can be compared with
  * the DuckDB oracle's rows read back from parquet. It follows the rules of
  * `tools/check_oracle.py`: columns are matched by lower-cased name in
  * sorted order, row order is significant (every graded op ends in a total
  * ORDER BY), integer widths are interchangeable, and every other type must
  * agree exactly (DECIMAL width, DOUBLE vs FLOAT, HUGEINT, which DuckDB
  * writes as DOUBLE, vs BIGINT).
  */
object Canon {

  def typeTag(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case TimestampType | TimestampNTZType => "timestamp"
    case _: StringType | _: VarcharType | _: CharType => "string"
    case ArrayType(e, _) => s"array<${typeTag(e)}>"
    case MapType(k, v, _) => s"map<${typeTag(k)},${typeTag(v)}>"
    case StructType(fs) =>
      fs.map(f => f.name.toLowerCase -> typeTag(f.dataType)).sortBy(_._1)
        .map { case (n, t) => s"$n:$t" }.mkString("struct<", ",", ">")
    case other => other.typeName
  }

  private def value(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("\\N")
    // -0.0 and 0.0 compare equal in both engines' compare
    case d: Double => sb.append(if (d == 0.0) "0.0" else java.lang.Double.toString(d))
    case f: Float => sb.append(if (f == 0.0f) "0.0" else java.lang.Float.toString(f))
    case b: java.math.BigDecimal => sb.append(b.toPlainString)
    case s: String =>
      sb.append('"').append(s.replace("\\", "\\\\").replace("\"", "\\\"")).append('"')
    case t: java.sql.Timestamp => sb.append(LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC))
    case t: java.time.Instant => sb.append(LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case d: java.sql.Date => sb.append(d.toLocalDate)
    case b: Array[Byte] => b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.map(_.toLowerCase))
        .getOrElse(Array.tabulate(r.length)(_.toString))
      sb.append('{')
      names.indices.sortBy(names(_)).foreach { i =>
        sb.append(names(i)).append(':'); value(r.get(i), sb); sb.append(',')
      }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        value(k, e); e.append("->"); value(x, e); e.toString
      }.sorted
      sb.append(entries.mkString("<", ",", ">"))
    case s: scala.collection.Seq[_] =>
      sb.append('['); s.foreach { x => value(x, sb); sb.append(',') }; sb.append(']')
    case other => sb.append(other.toString) // integers, booleans, LocalDate/Time
  }

  /** Header line (sorted `name:type` columns) and one canonical line per
    * row, columns in the header's order. */
  def lines(schema: StructType, rows: Array[Row]): (String, Array[String]) = {
    val names = schema.fieldNames.map(_.toLowerCase)
    val perm = names.indices.sortBy(names(_)).toArray
    val header = perm.map(i => s"${names(i)}:${typeTag(schema(i).dataType)}").mkString(",")
    val sb = new java.lang.StringBuilder
    val body = rows.map { r =>
      sb.setLength(0)
      perm.foreach { i => value(r.get(i), sb); sb.append('\u0001') }
      sb.toString
    }
    (header, body)
  }

  def digest(schema: StructType, rows: Array[Row]): String = {
    val (header, body) = lines(schema, rows)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes(UTF_8))
    body.foreach { l => md.update('\n'.toByte); md.update(l.getBytes(UTF_8)) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** First difference between an oracle result and an op result, for the
    * report of a failing op. */
  def firstDiff(expected: (String, Array[String]), actual: (String, Array[String])): String = {
    val (eh, er) = expected
    val (ah, ar) = actual
    if (eh != ah) s"columns: oracle=[$eh] op=[$ah]"
    else if (er.length != ar.length) s"row count: oracle=${er.length} op=${ar.length}"
    else er.indices.find(i => er(i) != ar(i)) match {
      case Some(i) => s"row $i: oracle=${er(i).replace('\u0001', '|')} op=${ar(i).replace('\u0001', '|')}"
      case None => "identical"
    }
  }
}
