package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.schema.Schemas

/** Readers of the generated inputs. */
object Inputs {
  def json(path: String): JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))

  def landing(spark: SparkSession, file: String): DataFrame =
    spark.read.schema(Schemas.landing).parquet(file)

  def files(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq
}
