package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Output fingerprints that are compared against the recorded ones. */
object Fingerprint {
  /** Hashes every column of every row inside Spark (a bare count would let
    * column pruning skip the work): row count, xor of the row hashes, and a
    * sum of reduced row hashes so that a duplicated row still shows. */
  def ofFrame(df: DataFrame): String = {
    val r = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("_h"))
      .agg(count(lit(1)), bit_xor(col("_h")), sum(pmod(col("_h"), lit(2147483647L))))
      .collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  /** Digest of collected rows in their returned order plus extra fields. */
  def ofRows(rows: Seq[Row], extra: Any*): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001", "\u0002", "\n")).getBytes("UTF-8")))
    extra.foreach(e => md.update(s"\u0003$e".getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
