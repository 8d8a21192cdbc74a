package graft

import org.apache.spark.sql.{DataFrame, Row}

/** A query result reduced to what an output pin compares: row count, schema
  * (nullability included) and an order-independent row hash. */
object QueryDigest {

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d) // exact; keeps -0.0 apart from 0.0
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case x => x.toString
  }

  /** SHA-256 over the sorted rendered rows: independent of row order and
    * partitioning, sensitive to every value and to duplicate rows. */
  def rowHash(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(render).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().take(8).map(b => f"$b%02x").mkString)
  }

  def schema(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}").mkString(",")

  /** Query `q`'s digest line: `query⇥rows⇥schema⇥hash`. */
  def line(q: String, df: DataFrame): String = {
    val (n, hash) = rowHash(df)
    s"$q\t$n\t${schema(df)}\t$hash"
  }

  /** The digest lines of test resource `file`, by query name (empty if absent). */
  def pinned(file: String): Map[String, String] =
    Option(getClass.getResourceAsStream(s"/$file"))
      .map(in => try new String(in.readAllBytes(), "UTF-8") finally in.close())
      .getOrElse("").linesIterator.filter(_.nonEmpty)
      .map(l => l.takeWhile(_ != '\t') -> l).toMap
}
