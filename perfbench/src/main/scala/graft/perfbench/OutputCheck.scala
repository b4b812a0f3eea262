package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Reads back every object the loader wrote and compares it with what the
  * generator put in. The comparison is independent of the loader's code:
  * lines are matched by hash against the generator's own record of good
  * lines.
  */
object OutputCheck {

  final case class Result(
      goodObjects: Int, badObjects: Int, goodLines: Long, goodBytesOut: Long,
      badRows: Long, corruptRows: Long, missing: Long, unexpected: Long,
      duplicates: Long, badCountDiff: Long, noTrailingNewline: Int, oversize: Int) {

    /** Mismatched operations. Duplicates are legal only when a batch was
      * replayed (at-least-once); `replays` says whether one was.
      */
    def failures(replays: Boolean): Long =
      missing + unexpected + (if (replays) 0 else duplicates) + badCountDiff +
        noTrailingNewline + oversize

    def toJson: scala.collection.mutable.LinkedHashMap[String, Any] = Json.obj(
      "good_objects" -> goodObjects, "bad_objects" -> badObjects, "good_lines" -> goodLines,
      "good_bytes_out" -> goodBytesOut, "bad_rows" -> badRows, "corrupt_rows" -> corruptRows,
      "missing" -> missing, "unexpected" -> unexpected, "duplicates" -> duplicates,
      "bad_count_diff" -> badCountDiff, "no_trailing_newline" -> noTrailingNewline,
      "oversize" -> oversize)
  }

  def check(
      goodDir: Path, badDir: Path, expected: LineHash.Multiset, expectedBad: Long,
      maxBytes: Long, maxLineBytes: Long): Result = {
    val remaining = new java.util.HashMap[Long, Int](expected.counts)
    var goodLines = 0L; var unexpected = 0L; var duplicates = 0L
    var noNewline = 0; var oversize = 0
    val goodObjs = Files2.listObjects(goodDir)
    val sizes = goodObjs.map { p =>
      val gz = Files.readAllBytes(p)
      if (gz.length > maxBytes + maxLineBytes) oversize += 1
      val raw = Files2.gunzip(gz)
      if (raw.isEmpty || raw(raw.length - 1) != '\n') noNewline += 1
      var from = 0
      var i = 0
      while (i < raw.length) {
        if (raw(i) == '\n') {
          val h = LineHash.of(raw, from, i)
          goodLines += 1
          val left = remaining.getOrDefault(h, -1)
          if (left > 0) remaining.put(h, left - 1)
          else if (left == 0) duplicates += 1
          else unexpected += 1
          from = i + 1
        }
        i += 1
      }
      gz.length.toLong
    }
    var missing = 0L
    remaining.forEach((_, n) => missing += n)

    var badRows = 0L; var corrupt = 0L
    val badObjs = Files2.listObjects(badDir)
    badObjs.foreach { p =>
      val gz = Files.readAllBytes(p)
      val raw = Files2.gunzip(gz)
      if (raw.isEmpty || raw(raw.length - 1) != '\n') noNewline += 1
      new String(raw, UTF_8).split('\n').iterator.filter(_.nonEmpty).foreach { l =>
        badRows += 1
        if (l.contains("decompress") || l.contains("Truncated")) corrupt += 1
      }
    }
    Result(goodObjs.size, badObjs.size, goodLines, sizes.sum, badRows, corrupt,
      missing, unexpected, duplicates, math.abs(badRows - expectedBad), noNewline, oversize)
  }
}
