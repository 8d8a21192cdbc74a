package graft

import org.apache.spark.sql.functions.udf

/** Independent JVM-UDF oracles the native expressions are checked against. */
object OracleUdfs {

  /** JTS intersects, first argument the prepared (dimension) side. A null or
    * empty geometry intersects nothing. */
  val stIntersectsUdf = udf((dimWkt: String, probeWkt: String) =>
    dimWkt != null && probeWkt != null && dimWkt.nonEmpty && probeWkt.nonEmpty &&
      graft.geom.Geo.intersects(dimWkt, probeWkt))
}
