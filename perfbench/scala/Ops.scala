package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Caches, SparkEntry}
import graft.operators.{Cleaning, Relational, StarSchema, Transforms}
import graft.sources.Sources

/** One benchmark operation: calls into the library and loads every
 *  output as parquet under `sink/<output>` (the load stands in for the
 *  pipeline's target store, and is what the correctness check reads). */
sealed trait Op {
  def name: String
  def outputs: Seq[String]
  def run(spark: SparkSession, dir: String, tr: Tracer, sink: String): Unit
}

object Op {
  /** Releases every cache the operation left behind (the library's
   *  caller-owned-cache contract); returns how many persisted RDDs it
   *  dropped. */
  def release(spark: SparkSession): Int = {
    val n = spark.sparkContext.getPersistentRDDs.size
    Caches.releaseAll(spark)
    n
  }

  private def load(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** A `SparkEntry.queries` entry; `module` is the operator module its
   *  builder calls, which the traced run charges its eager work to. */
  final case class Registry(name: String, module: String) extends Op {
    val outputs = Seq(name)
    def run(spark: SparkSession, dir: String, tr: Tracer, sink: String): Unit = {
      val df = tr.span("call", module)(SparkEntry.queries(name)(spark, dir))
      tr.span("action", "load")(load(df, s"$sink/$name"))
    }
  }

  /** A `SparkEntry.sharedPairs` group: one shared pass feeding every
   *  member's output; each output is checked against its member's oracle. */
  final case class Shared(name: String, module: String) extends Op {
    val outputs: Seq[String] = name.split("\\+").toSeq.map { p =>
      SparkEntry.queries.keys.find(_.startsWith(p + "_")).getOrElse(
        sys.error(s"no registry query for shared member $p"))
    }
    def run(spark: SparkSession, dir: String, tr: Tracer, sink: String): Unit = {
      val dfs = tr.span("call", module)(SparkEntry.sharedPairs(name)(spark, dir))
      tr.span("action", "load")(outputs.zip(dfs).foreach { case (n, df) => load(df, s"$sink/$n") })
    }
  }

  /** Parses `name@Module`, `a+b+c@Module` (a shared group), `etl_star`
   *  or `etl_ingest`. */
  def parse(spec: String): Op = spec.split("@") match {
    case Array("etl_star") => EtlStar
    case Array("etl_ingest") => EtlIngest
    case Array(n, m) if n.contains("+") => Shared(n, m)
    case Array(n, m) => Registry(n, m)
    case _ => sys.error(s"bad op spec '$spec'")
  }
}

/**
 * The reference pipeline, input to complete result: five yearly
 * `;`-delimited record CSVs are ingested with malformed-line quarantine,
 * merged with the details feed and keep-first deduplicated, unioned,
 * cleaned and transformed; the unified frame is staged as parquet, then
 * loaded as five dense-key dimensions plus the fact table (parquet
 * writes stand in for the JDBC load). The quarantined lines are loaded
 * too, so the check can see them.
 */
object EtlStar extends Op {
  val name = "etl_star"
  val years: Seq[Int] = 1995 to 1999
  val shipModes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val flags = Seq("FRAGIL", "FRIO", "URGENTE", "SEGURO")

  val recSchema = StructType(Seq(
    "rec_id" -> LongType, "seq" -> LongType, "l_orderkey" -> LongType,
    "l_partkey" -> LongType, "l_suppkey" -> LongType,
    "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
    "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipmode" -> StringType, "l_shipdate" -> StringType,
    "l_flags" -> StringType, "marca" -> StringType)
    .map { case (n, t) => StructField(n, t) })
  private val detSchema = StructType(Seq(StructField("rec_id", LongType),
    StructField("o_orderpriority", StringType), StructField("canal", StringType)))

  /** Dimension name -> natural key; the surrogate key is `id_<name>`. */
  val dims: Seq[(String, Seq[String])] = Seq(
    "tempo" -> Seq("ano", "trimestre", "mes", "dia", "dia_util", "feriado"),
    "status" -> Seq("l_returnflag", "status"),
    "envio" -> (Seq("l_shipmode") ++ flags),
    "marca" -> Seq("marca_nome", "modelo"),
    "prioridade" -> Seq("o_orderpriority", "canal"))
  val measures = Seq("rec_id", "l_suppkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "hora")

  /** Runs the pipeline over the feed in `dir`, loading into `sink`. */
  def run(spark: SparkSession, dir: String, tr: Tracer, sink: String): Unit = {
    val det = tr.span("call", "Sources")(Sources.csv(spark, s"$dir/det.csv", sep = ";",
      encoding = "ISO-8859-1", schema = Some(detSchema)))
    val feeds = years.map { y =>
      tr.span("call", "Sources")(Sources.csvQuarantine(spark, s"$dir/rec_$y.csv",
        recSchema, sep = ";", header = true))
    }
    try {
      // each yearly file is merged and deduplicated on its own, as the
      // reference does, then the years are unioned and cleaned together
      val merged = tr.span("call", "Relational") {
        Relational.unionSlices(feeds.map(q => Relational.mergeRightDedup(
          det, Seq("o_orderpriority", "canal"), q.good, "rec_id", Seq(col("seq")))))
      }
      val cleaned = tr.span("call", "Cleaning") {
        val imputed = Cleaning.imputeWithMedians(merged, Seq(
          "l_quantity" -> (col("l_quantity") > 0),
          "l_extendedprice" -> (col("l_extendedprice") > 0)))
        val filled = Cleaning.fillSentinel(imputed, "l_suppkey", -1L)
        val valid = Cleaning.domainValidate(filled, "l_shipmode", shipModes, "OUTROS")
        val kept = Cleaning.invariantFilter(valid, col("l_discount") <= 0.1, col("l_tax") >= 0)
        Cleaning.parseTimestamp(kept, "l_shipdate", "yyyy-MM-dd HH:mm:ss", "ship_ts", "ship_ok")
      }
      val unified = tr.span("call", "Transforms") {
        val dated = Transforms.dateParts(cleaned, "ship_ts")
        val flagged = Transforms.flagFromCalendar(dated, "ship_ts",
          Transforms.brazilHolidayDim(spark, years.head, years.last), "d", "feriado")
        val mapped = flagged.withColumn("status", Transforms.valueMap(col("l_linestatus"),
          Map("O" -> "Aberto", "F" -> "Fechado"), Some(lit("Desconhecido"))))
        val split = Transforms.multiFlagSplit(mapped, "l_flags", flags)
        Transforms.brandModelSplit(split, "marca", "marca_nome", "modelo")
      }
      // the unified frame is staged as parquet before the star is built,
      // as the reference hands each stage's output to the next as a file
      val quarantine = feeds.map(_.quarantined).reduce(_ union _)
      tr.span("action", "stage") {
        unified.write.mode("overwrite").parquet(s"$sink/stage")
        quarantine.write.mode("overwrite").parquet(s"$sink/quarantine")
      }
      val all = spark.read.parquet(s"$sink/stage")
      val dimFrames = tr.span("call", "StarSchema")(dims.map { case (d, nk) =>
        (StarSchema.dimWithDenseKey(all, nk, s"id_$d"), nk, s"id_$d")
      })
      val fact = tr.span("call", "StarSchema")(StarSchema.buildFact(all, dimFrames, measures))
      tr.span("action", "load") {
        dims.zip(dimFrames).foreach { case ((d, _), (df, _, _)) =>
          df.write.mode("overwrite").parquet(s"$sink/dim_$d")
        }
        fact.write.mode("overwrite").parquet(s"$sink/fact")
      }
    } finally feeds.foreach(_.release())
  }

  val outputs: Seq[String] = dims.map(d => s"dim_${d._1}") :+ "fact" :+ "quarantine"
}

/** The pipeline's first step alone: quarantined ingest of every yearly
 *  file, loading the parsed rows (`etl_star`'s set-up warm-up). */
object EtlIngest extends Op {
  val name = "etl_ingest"
  val outputs: Seq[String] = EtlStar.years.map(y => s"ingest_$y")
  def run(spark: SparkSession, dir: String, tr: Tracer, sink: String): Unit =
    EtlStar.years.foreach { y =>
      val q = tr.span("call", "Sources")(Sources.csvQuarantine(spark, s"$dir/rec_$y.csv",
        EtlStar.recSchema, sep = ";", header = true))
      try tr.span("action", "load")(q.good.write.mode("overwrite").parquet(s"$sink/ingest_$y"))
      finally q.release()
    }
}
