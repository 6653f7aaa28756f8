package graft.schema

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** XBRL-type-driven column specification for FFIEC schedule TSVs
  * (ref: /root/reference/R/ffiec_types.R default_xbrl_to_readr /
  * default_ffiec_col_overrides, /root/reference/R/ffeic_read.R:377
  * make_colspec).
  *
  * A ColSpec is compiled once on the driver from (header, schema map,
  * overrides) and shipped to executors as a plain serializable value;
  * parseInto is allocation-light and runs in the member-scan task.
  */
object FfiecSchema {

  /** XBRL item type → spec code (d=double, i=int, l=boolean, c=string).
    * pureItemType is read as string and converted to proportion later,
    * exactly like the reference. */
  val defaultXbrlToSpec: Map[String, String] = Map(
    "xbrli:monetaryItemType"             -> "d",
    "ffieci:nonNegativeMonetaryItemType" -> "d",
    "xbrli:integerItemType"              -> "i",
    "xbrli:nonNegativeIntegerItemType"   -> "i",
    "xbrli:pureItemType"                 -> "c",
    "xbrli:booleanItemType"              -> "l",
    "xbrli:stringItemType"               -> "c")

  /** item name → XBRL type. The reference ships this as sysdata built
    * from FFIEC taxonomy concepts.xsd (ref: data-raw/ffiec_schema.R);
    * graft builds the same map at runtime: `conceptsFromZips` parses
    * taxonomy concepts.xsd members, `inferFromFacts` classifies from
    * observed XBRL facts, and FfiecPipeline auto-resolves them when the
    * caller supplies no map. This val is only the empty fallback. */
  val defaultSchemaMap: Map[String, String] = Map.empty

  /** Parse `<element name=... type=...>` concept declarations out of
    * every member ending in concepts.xsd in the given taxonomy zips —
    * the exact source the reference builds its sysdata from
    * (ref: data-raw/ffiec_schema.R:22 read_concepts_xsd). Driver-side:
    * a taxonomy is metadata-scale (one file per form version). */
  def conceptsFromZips(spark: SparkSession, zips: Seq[String]): Map[String, String] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val out = Map.newBuilder[String, String]
    zips.foreach { zp =>
      val p = new Path(zp)
      val zin = new java.util.zip.ZipInputStream(p.getFileSystem(conf).open(p))
      try {
        Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
          .filter(e => !e.isDirectory && e.getName.endsWith("concepts.xsd"))
          .foreach { _ =>
            // parse THIS entry's bytes (ZipInputStream is positioned on it)
            val bytes = zin.readAllBytes()
            out ++= parseConceptsXsd(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
          }
      } finally zin.close()
    }
    out.result()
  }

  /** StAX scan of a concepts.xsd document: every element node with
    * local-name `element` carrying both name and type attributes. */
  def parseConceptsXsd(xml: String): Seq[(String, String)] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val reader = f.createXMLStreamReader(new java.io.StringReader(xml))
    val pairs = Seq.newBuilder[(String, String)]
    try {
      while (reader.hasNext) {
        if (reader.next() == XMLStreamConstants.START_ELEMENT &&
            reader.getLocalName == "element") {
          var name: String = null
          var tpe: String = null
          (0 until reader.getAttributeCount).foreach { i =>
            reader.getAttributeLocalName(i) match {
              case "name" => name = reader.getAttributeValue(i)
              case "type" => tpe = reader.getAttributeValue(i)
              case _ =>
            }
          }
          if (name != null && tpe != null) pairs += (name -> tpe)
        }
      }
    } finally reader.close()
    pairs.result()
  }

  /** Classify item → XBRL type from observed XBRL facts, mirroring the
    * reference's bootstrap heuristic (ref: data-raw/ffiec_schema.R:60+):
    * no unitRef + true/false values → boolean; no unitRef otherwise →
    * string; unitRef PURE → pure; NON-MONETARY with decimals=0 →
    * integer; everything else → monetary. Input: XbrlZip.facts output
    * (item, unitRef, decimals, value). One aggregate over the facts. */
  def inferFromFacts(facts: DataFrame): DataFrame = {
    val boolVal = col("value").isin("true", "false")
    facts.groupBy(col("item").as("name"))
      .agg(
        max(when(col("unitRef").isNull && !boolVal, 1).otherwise(0)).as("is_str"),
        max(when(col("unitRef").isNull && boolVal, 1).otherwise(0)).as("is_bool"),
        max(when(col("unitRef") === "PURE", 1).otherwise(0)).as("is_pure"),
        max(when(col("unitRef") === "NON-MONETARY" && col("decimals") === "0", 1)
          .otherwise(0)).as("is_int"))
      .select(col("name"),
        when(col("is_str") === 1, "xbrli:stringItemType")
          .when(col("is_bool") === 1, "xbrli:booleanItemType")
          .when(col("is_pure") === 1, "xbrli:pureItemType")
          .when(col("is_int") === 1, "xbrli:integerItemType")
          .otherwise("xbrli:monetaryItemType").as("type"))
  }

  /** Per-column overrides (ref: ffiec_types.R:28): free-text and
    * date-like columns that the schema map would mistype. */
  val defaultColOverrides: Map[String, String] = Map(
    "RCON8678" -> "c",
    "RCON9999" -> "D",
    "RIAD9106" -> "D")

  /** NA tokens for schedule cells (ref: ffeic_read.R:160). */
  val naTokens: Set[String] = Set("", "CONF")

  /** NA tokens for yyyyMMdd date cells (ref: ffeic_read.R:348). */
  val dateNaTokens: Set[String] = Set("", "0", "00000000")

  private val dateFmt = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Compile a column spec: IDRSSD forced int, then overrides, then the
    * schema map, else string (ref: make_colspec). FFIEC rows terminate
    * with a tab, so the header carries trailing empty names — they count
    * toward the expected cell arity (the repair ladder needs that) but
    * are dropped from the output schema. */
  def colSpec(header: Seq[String],
              schemaMap: Map[String, String] = defaultSchemaMap,
              overrides: Map[String, String] = defaultColOverrides,
              xbrlToSpec: Map[String, String] = defaultXbrlToSpec): ColSpec = {
    val kept = header.reverse.dropWhile(_.isEmpty).reverse
    val codes = kept.map {
      case "IDRSSD" => "i"
      case nm if overrides.contains(nm) => overrides(nm)
      case nm => schemaMap.get(nm).flatMap(xbrlToSpec.get).getOrElse("c")
    }
    ColSpec(kept.toIndexedSeq, codes.toIndexedSeq, expectedCells = header.size)
  }

  /** `cell` without one leading and one trailing double quote — what
    * `cell.replaceAll("^\"|\"$", "")` returns on a trimmed cell, by
    * index, so the per-cell parse compiles no regex. */
  private[graft] def unquote(cell: String): String = {
    val from = if (cell.startsWith("\"")) 1 else 0
    val to = if (cell.length > from && cell.endsWith("\"")) cell.length - 1 else cell.length
    cell.substring(from, to)
  }
}

/** Compiled parse plan for one schedule member: column names + one-char
  * type codes (d/i/l/c/D). */
case class ColSpec(names: IndexedSeq[String], codes: IndexedSeq[String],
                   expectedCells: Int) extends Serializable {
  require(names.size == codes.size)
  require(expectedCells >= names.size)

  def arity: Int = names.size

  def sparkSchema: StructType = StructType(names.zip(codes).map {
    case (n, "d") => StructField(n, DoubleType)
    case (n, "i") => StructField(n, IntegerType)
    case (n, "l") => StructField(n, BooleanType)
    case (n, "D") => StructField(n, DateType)
    case (n, _)   => StructField(n, StringType)
  })

  // DateTimeFormatter is not Serializable — rebuild per deserialized task.
  @transient private lazy val dateFmt = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Parse one repaired TSV line into `values(0 until arity)` in
    * Catalyst's internal form (UTF8String, days since the epoch; null on
    * an NA token or an unparseable cell — a poison cell must not kill a
    * 100 TB job), and return the count of cells that were neither NA
    * tokens nor parseable at their declared type — the reference's
    * per-file `problems` record (ref: ffeic_read.R:176 `ok = ...
    * nrow(probs) == 0`), counted per row so the reader can aggregate it
    * in the pass that writes the parquet. */
  def parseInto(line: String, values: Array[Any]): Int = {
    val cells = line.split("\t", -1)
    var problems = 0
    var i = 0
    while (i < arity) {
      val raw = if (i < cells.length) cells(i).trim else ""
      val unq = FfiecSchema.unquote(raw)
      values(i) =
        if (FfiecSchema.naTokens.contains(unq)) null
        else codes(i) match {
          case "d" => try unq.toDouble catch { case _: Exception => problems += 1; null }
          case "i" => try unq.toInt catch { case _: Exception => problems += 1; null }
          case "l" =>
            unq.toLowerCase match {
              case "true" | "t" | "1" | "yes" => true
              case "false" | "f" | "0" | "no" => false
              case _ => problems += 1; null
            }
          case "D" =>
            if (FfiecSchema.dateNaTokens.contains(unq)) null
            else try LocalDate.parse(unq, dateFmt).toEpochDay.toInt
            catch { case _: Exception => problems += 1; null }
          case _ => UTF8String.fromString(unq)
        }
      i += 1
    }
    problems
  }
}
