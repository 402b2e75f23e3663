package perfbench

import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Untimed checks of the published CSVs against the generator's totals. */
object Checks {

  /** The single part file `writeCsv(..., singleFile = true)` leaves. */
  def part(csvDir: String): File = {
    val parts = Option(new File(csvDir).listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    require(parts.length == 1, s"$csvDir holds ${parts.length} part files, expected 1")
    parts.head
  }

  private def lines(f: File)(each: (String, Long) => Unit): Long = {
    val r = new BufferedReader(new InputStreamReader(new FileInputStream(f),
      StandardCharsets.UTF_8), 1 << 20)
    try {
      var n = 0L
      var l = r.readLine()
      while (l != null) { each(l, n); n += 1; l = r.readLine() }
      n
    } finally r.close()
  }

  /** Rows equal the generator's count, and match_number is dense 1..N in
    * (date, match_id) order. The first three columns are never quoted. */
  def matchwise(dir: String, expected: Long): Seq[String] = {
    var errs = Vector.empty[String]
    var prev: (String, Long) = null
    val n = lines(part(dir)) { (l, i) =>
      if (i > 0 && errs.size < 5) {
        val f = l.split(",", 4)
        val key = (f(2), f(1).toLong)
        if (f(0) != i.toString) errs :+= s"matchwise row $i has match_number ${f(0)}"
        if (prev != null && Ordering[(String, Long)].gteq(prev, key))
          errs :+= s"matchwise row $i out of (date, match_id) order"
        prev = key
      }
    }
    if (n - 1 != expected) errs :+= s"matchwise has ${n - 1} rows, generator made $expected"
    errs
  }

  /** Rows equal the generator's count, none lacks a match_number, and
    * rows are strictly sorted on (match_number, innings, over, ball). */
  def deliverywise(dir: String, expected: Long): Seq[String] = {
    var errs = Vector.empty[String]
    var prev = Array(-1L, -1L, -1L, -1L)
    val n = lines(part(dir)) { (l, i) =>
      if (i > 0 && errs.size < 5) {
        val f = l.split(",", 7)
        val mn = l.substring(l.lastIndexOf(',') + 1)
        if (mn.isEmpty) errs :+= s"deliverywise row $i has no match_number"
        else {
          val key = Array(mn.toLong, f(1).toLong, f(4).toLong, f(5).toLong)
          if (java.util.Arrays.compare(prev, key) >= 0)
            errs :+= s"deliverywise row $i out of 4-part key order"
          prev = key
        }
      }
    }
    if (n - 1 != expected) errs :+= s"deliverywise has ${n - 1} rows, generator made $expected"
    errs
  }

  def note(got: String, expected: String): Seq[String] =
    if (got == expected) Nil else Seq(s"version note '$got', expected '$expected'")

  def sameBytes(a: String, b: String, what: String): Seq[String] =
    if (java.util.Arrays.equals(Files.readAllBytes(part(a).toPath),
        Files.readAllBytes(part(b).toPath))) Nil
    else Seq(s"$what differs from the archive path's output")

  /** CRC of a published part file: later archive passes must reproduce
    * the first pass's checked bytes. */
  def crc(dir: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(Files.readAllBytes(part(dir).toPath))
    c.getValue
  }
}
