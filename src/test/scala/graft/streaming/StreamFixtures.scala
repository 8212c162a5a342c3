package graft.streaming

/** Input files the streaming specs share: (file name, JSON lines) in
  * arrival order. `write` gives each file its own mtime, so a file
  * source reads them in that order.
  */
object StreamFixtures {

  /** Five events, then a later sentinel in a SECOND file: with
    * maxFilesPerTrigger=1 it forms a second micro-batch whose arrival
    * advances the watermark past every real window, flushing append-mode
    * aggregate state. Its own window stays open (correct) — assertions
    * exclude event_type=sentinel.
    */
  val events: Seq[(String, Seq[String])] = Seq(
    "part1.json" -> Seq(
      """{"event_id":1,"ts":"2026-01-01T00:01:00Z","user_id":1,"event_type":"click","value":1.5,"props":"{}"}""",
      """{"event_id":2,"ts":"2026-01-01T00:04:00Z","user_id":1,"event_type":"click","value":2.0,"props":"{}"}""",
      """{"event_id":3,"ts":"2026-01-01T00:12:00Z","user_id":1,"event_type":"view","value":0.25,"props":"{}"}""",
      """{"event_id":4,"ts":"2026-01-01T01:00:00Z","user_id":2,"event_type":"click","value":4.0,"props":"{}"}""",
      """{"event_id":5,"ts":"2026-01-01T01:05:00Z","user_id":2,"event_type":"click","value":1.0,"props":"{}"}"""),
    "part2.json" -> Seq(
      """{"event_id":99,"ts":"2026-01-01T09:00:00Z","user_id":9,"event_type":"sentinel","value":0.0,"props":"{}"}"""))

  private def ev(id: Long, sec: Long, uid: Long, typ: String) =
    s"""{"event_id":$id,"ts":"${java.time.Instant.ofEpochSecond(sec)}",""" +
      s""""user_id":$uid,"event_type":"$typ","value":0.0,"props":"{}"}"""

  /** Signup → purchase sequences in two files. Batch 1: u1 open signup
    * (resolves in batch 2); u2 open signup (guarded in batch 2); u3 full
    * in-batch match; u4 open signup (expires in batch 2 at a 300 s bound).
    */
  val sequenceEvents: Seq[(String, Seq[String])] = Seq(
    "seq1.json" -> Seq(
      ev(1, 100, 1, "signup"),
      ev(2, 100, 2, "signup"),
      ev(3, 100, 3, "signup"), ev(4, 150, 3, "purchase"),
      ev(5, 100, 4, "signup")),
    "seq2.json" -> Seq(
      ev(6, 200, 1, "purchase"),                      // cross-batch match
      ev(7, 150, 2, "error"), ev(8, 200, 2, "purchase"), // guard kills u2
      ev(9, 5000, 4, "purchase"),                     // beyond the bound
      ev(10, 400, 3, "signup"), ev(11, 450, 3, "purchase")))

  /** Three document files with planted exact and near duplicates. Fed one
    * file per batch: batch 1 drops 3 (in-batch exact dup of 1); batch 2
    * drops 11 (exact, stored digests) and 12 (near, stored MinHash index);
    * batch 3 drops 21 (exact dup of 13) and 22 (near dup of 1), keeping
    * 1, 2, 13 and 23.
    */
  val dedupFiles: Seq[(String, Seq[String])] = Seq(
    "b1.json" -> Seq(
      """{"doc_id":1,"lang":"en","text":"the quick brown fox jumps over the lazy dog tonight"}""",
      """{"doc_id":2,"lang":"en","text":"completely different text about spark engines at scale"}""",
      """{"doc_id":3,"lang":"en","text":"the quick brown fox jumps over the lazy dog tonight"}"""),
    "b2.json" -> Seq(
      """{"doc_id":11,"lang":"en","text":"the quick brown fox jumps over the lazy dog tonight"}""",
      """{"doc_id":12,"lang":"en","text":"the quick brown fox jumps over the lazy dog today"}""",
      """{"doc_id":13,"lang":"en","text":"novel content never seen in the corpus before now"}"""),
    "b3.json" -> Seq(
      """{"doc_id":21,"lang":"en","text":"novel content never seen in the corpus before now"}""",
      """{"doc_id":22,"lang":"en","text":"the quick brown fox jumps over the lazy dog yesterday"}""",
      """{"doc_id":23,"lang":"en","text":"absolutely fresh material arriving in the third batch"}"""))

  def write(dir: String, files: Seq[(String, Seq[String])]): Unit =
    files.foreach { case (name, rows) => writeFile(dir, name, rows) }

  private val lastStamp = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Writes one input file and stamps its mtime at least a second past the
    * previous file written here. A file source orders files by mtime, whose
    * granularity is the clock tick, so two files written milliseconds
    * apart can tie and be read in either order. */
  def writeFile(dir: String, name: String, rows: Seq[String]): Unit = {
    val f = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.write(f, rows.mkString("\n").getBytes("UTF-8"))
    val stamp = lastStamp.updateAndGet(t => math.max(t + 1000L, System.currentTimeMillis()))
    assert(f.toFile.setLastModified(stamp), s"cannot set the mtime of $f")
  }
}
