package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{Rule, RuleType}
import graft.norm.Normalize.NullSentinel
import graft.report.ReportCollector

/** Output sinks mirroring the reference's emit surface:
  *  - sanitized CSV (S8, app.py:897,1020): string cells, CDE columns the
  *    input lacked back-filled with "NA";
  *  - markdown QC log (S9, validate_core.py:113-133) — the entry-type
  *    filter lives in [[ReportCollector.getLog]];
  *  - template ZIP (S10, template_files.py:31-107): one {TABLE}.csv of
  *    six header rows per table, deterministic table order, deflate.
  */
object Sinks {

  /** Back-fill CDE fields absent from the frame with the sentinel, order
    * the columns rules-first (extras keep their position after), then
    * write one CSV (reference writes one file per table). */
  def sanitizedCsv(df: DataFrame, rules: Seq[Rule], path: String): Unit = {
    val have = df.columns.toSet
    val backfilled = rules.map(_.field).distinct.filterNot(have)
      .foldLeft(df)((d, f) => d.withColumn(f, lit(NullSentinel)))
    backfilled.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** Markdown QC log file (driver-side; the log is metadata-sized). */
  def writeLog(report: ReportCollector, path: String): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), report.getLog)
  }

  /** CSV-quote a cell per RFC4180 (quote when it contains , " or \n). */
  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Template ZIP: per table six rows — Field / Description / DataType /
    * Required / (Validation literal for Enum, "Validation:{DataType}"
    * marker otherwise) / FillNull. Pure metadata transform, driver-side,
    * plain java.util.zip (template_files.py:31-107). */
  def buildTemplatesZip(rules: Seq[Rule]): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(buf)
    rules.map(_.table).distinct.sorted.foreach { table =>
      val tr = rules.filter(_.table == table)
      def render(xs: Seq[String]): String = xs.map(csvCell).mkString(",")
      def quoteList(xs: Seq[String]): String =
        xs.map(x => s"'$x'").mkString("[", ", ", "]")
      val rows = Seq(
        render(tr.map(_.field)),
        render(tr.map(_.description)),
        render(tr.map(dataTypeName)),
        render(tr.map(r => requirementName(r))),
        render(tr.map(r =>
          if (r.dataType == RuleType.EnumT)
            (if (r.validation.isEmpty) "[]" else quoteList(r.validation))
          else s"Validation:${dataTypeName(r)}")),
        render(tr.map(r =>
          if (r.fillNull.isEmpty) "" else quoteList(r.fillNull))))
      zip.putNextEntry(new ZipEntry(s"$table.csv"))
      zip.write(rows.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    zip.close()
    buf.toByteArray
  }

  private def dataTypeName(r: Rule): String = r.dataType match {
    case RuleType.IntegerT => "Integer"
    case RuleType.FloatT   => "Float"
    case RuleType.EnumT    => "Enum"
    case RuleType.RegexT   => "Regex"
    case RuleType.StringT  => "String"
  }

  private def requirementName(r: Rule): String = r.required match {
    case graft.model.Requirement.Required => "Required"
    case graft.model.Requirement.Optional => "Optional"
    case graft.model.Requirement.Assigned => "Assigned"
    case graft.model.Requirement.Alias    => "Alias"
  }
}
