package graft.catalog

import org.apache.spark.sql.SparkSession

/** The reference's `LOAD DATA [LOCAL] INPATH` surface (HadoopReader:
  * CSV → typed row with null backfill of short lines → bulk load
  * partitioned by the table's region start keys, the reference's
  * `HBaseCatalog.loadTable:507-663`) as a library call: Spark's CSV
  * reader (permissive mode backfills short lines with nulls exactly like
  * the reference's `string2KV`) feeding the table's V2 append, which the
  * write contract ([[GraftWriteOrdering]]) turns into a sorted region
  * load. A fixed-split table shuffles by its region function (the
  * `HBasePartitioner` analogue: one region per bucket, no sampling
  * job); any other table is range-partitioned on sampled key bounds.
  */
object GraftBulkLoad {

  /** Load a delimited text file into a graft table. */
  def loadCsv(spark: SparkSession, path: String, tableFqn: String,
      delimiter: String = ","): Unit = {
    val schema = spark.table(tableFqn).schema
    spark.read
      .schema(schema)
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE") // short lines -> null backfill
      .csv(path)
      .writeTo(tableFqn)
      .append()
  }
}
