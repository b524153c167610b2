package graft

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.GZIPOutputStream

/** Fixtures the repo generates itself instead of reading them from a
  * checkout of the reference. */
object Fixtures {

  private val SeqCsvRows = 100000
  private val SeqCsvSeed = 7L

  /** Where [[seqCsv]] lands. A pure path (no I/O), so oracle SQL can
    * embed it; the file is the same bytes in every JVM, because the
    * rows come from a fixed seed and java's gzip header carries no
    * timestamp. */
  val seqCsvPath: String = Paths.get(System.getProperty("java.io.tmpdir"),
    s"graft_seq_a4_${SeqCsvRows}_splitmix$SeqCsvSeed.csv.gz").toString

  /** FIXTURES.md §A4, the reference's bulk-ingest CSV: gzip, header
    * `id,name`, `id` = 1..100000, `name` uniform over [0, 100000]
    * ([[writeSeqCsv]] at seed 7). Writes the file when it is absent
    * and returns its path. The rows go to a temporary name first and
    * are then renamed into place, so a parallel JVM never reads a
    * partial file. */
  def seqCsv: String = synchronized {
    val target = Paths.get(seqCsvPath)
    if (!Files.exists(target)) {
      val tmp = Files.createTempFile(target.getParent, "graft_seq_a4_", ".tmp")
      try {
        writeSeqCsv(tmp, SeqCsvRows, SeqCsvSeed)
        tmp.toFile.setReadable(true, false) // temp files start owner-only
        // rename(2): atomic, and replaces a file a parallel JVM
        // renamed in first (same bytes)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      } finally Files.deleteIfExists(tmp)
    }
    seqCsvPath
  }

  /** SplitMix64: a tiny generator whose stream is fixed by its seed on
    * every JVM. */
  final class SplitMix(seed: Long) {
    private var state = seed
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    /** Uniform over [0, n). */
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
  }

  /** FIXTURES.md §A4 generalised to `rows` rows: header `id,name`, ids
    * 1..rows in order, names uniform over [0, 100000] from a SplitMix
    * stream seeded with `seed`. Java's gzip header carries no
    * timestamp, so the bytes are a pure function of (rows, seed).
    * Returns `count(name > 3000)`, the figure the paper's sequential
    * DMLs must reproduce. */
  def writeSeqCsv(path: Path, rows: Int, seed: Long): Long = {
    val rng = new SplitMix(seed)
    var over = 0L
    val out = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(Files.newOutputStream(path), 1 << 16),
      StandardCharsets.UTF_8), 1 << 16)
    try {
      out.write("id,name\n")
      var id = 1
      while (id <= rows) {
        val name = rng.below(100001)
        if (name > 3000) over += 1
        out.write(Integer.toString(id)); out.write(','); out.write(Integer.toString(name)); out.write('\n')
        id += 1
      }
    } finally out.close()
    over
  }
}
