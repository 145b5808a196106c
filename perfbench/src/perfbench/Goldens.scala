package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Computes the goldens the benchmark judges outputs against; run by
  * `perfbench/record_goldens.py`, never by a benchmark run.
  *
  * A program key's golden is the row count and digest of its graft.Verify
  * output, which the recorder has already compared with the DuckDB oracle
  * (one ordered file per key, read back in the order it was written). A
  * benchmark kernel projection has no oracle; its golden is taken only
  * when generated code and the interpreted expression path give the same
  * output.
  *
  * Arguments: --corpus DIR --verified DIR --keys k1,k2,… --out FILE
  * --cores N. */
object Goldens {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val corpus = opt("corpus")
    val cores = opt("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val kernels = new Kernels(spark)
    kernels.prepare(corpus)

    val goldens = opt("keys").split(",").toSeq.map { k =>
      val (n, h) = if (SparkEntry.queries.contains(k))
        Digest.consume(spark.read.parquet(s"${opt("verified")}/$k"))
      else {
        val fn = kernels.queries.getOrElse(k,
          throw new IllegalArgumentException(s"unknown key $k"))
        val generated = Digest.consume(fn(spark, corpus))
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        val interpreted = try Digest.consume(fn(spark, corpus)) finally {
          spark.conf.unset("spark.sql.codegen.wholeStage")
          spark.conf.unset("spark.sql.codegen.factoryMode")
        }
        require(generated == interpreted, s"$k: generated code gives " +
          s"$generated, the interpreted path $interpreted")
        generated
      }
      k -> Map("rows" -> n, "digest" -> Digest.hex(h))
    }
    Files.write(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsBytes(goldens.toMap))
    spark.stop()
  }
}
