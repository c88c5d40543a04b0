package layerbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

/**
 * Seeded input generators. Each writes plain files under a directory and
 * returns the facts it planted there; the engine only ever sees the files.
 * The same (seed, size) always yields byte-identical files, so the input
 * digest pins the workload.
 */
object Gen {

  /** Seed this benchmark was never tuned on, kept for later claims. */
  val HeldOutSeed: Long = 90210L

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(UTF_8))
  }

  /** SHA-256 over every regular file under `dir`: relative name and bytes,
    * in name order. */
  def digest(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .sortBy(p => dir.relativize(p).toString)
      finally s.close()
    }
    files.foreach { f =>
      md.update(dir.relativize(f).toString.getBytes(UTF_8)); md.update(0.toByte)
      md.update(Files.readAllBytes(f)); md.update(0.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private val Words = Seq("disk", "cache", "retry", "token", "queue", "flush",
    "commit", "socket", "lease", "shard", "index", "merge", "probe", "batch")

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  // ------------------------------------------------------------ flow_sweep

  /** Width of every generated log line: a fixed width makes each edge's
    * content bytes a function of its FlowFile count, whatever order the
    * engine bins lines in. */
  val LineWidth = 120
  val Services: Seq[String] = Seq("auth", "billing", "catalog", "search",
    "ingest", "mailer")
  /** Entries per MergeContent bin in the generated flow. */
  val BinEntries = 50

  final case class SweepFacts(lines: Long, errors: Long,
                              nonErrorsPerService: Map[String, Long])

  /** Fisher-Yates shuffle driven by `r`. */
  private def shuffled[A](r: SplittableRandom, xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** `files` log files of `linesPerFile` fixed-width lines. Every seed
    * gets the same count per level (2% ERROR, 10% WARN, 18% DEBUG) and per
    * service, in a seed-shuffled order, so seeds differ in content but not
    * in the amount of work. */
  def flowSweep(dir: Path, seed: Long, files: Int, linesPerFile: Int): SweepFacts = {
    var errors = 0L
    val perSvc = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val n = linesPerFile
    val plan = (0 until n).map { i =>
      val level = if (i < n * 2 / 100) "ERROR" else if (i < n * 12 / 100) "WARN"
        else if (i < n * 30 / 100) "DEBUG" else "INFO"
      (level, Services(i % Services.size))
    }
    (0 until files).foreach { f =>
      val r = rng(seed, 100 + f)
      val sb = new StringBuilder
      shuffled(r, plan).zipWithIndex.foreach { case ((level, svc), i) =>
        val head = f"2026-10-17T${i / 3600 % 24}%02d:${i / 60 % 60}%02d:${i % 60}%02dZ " +
          f"$level svc=$svc user=u${r.nextInt(100000)}%05d msg="
        val body = new StringBuilder(head)
        while (body.length < LineWidth) body.append(pick(r, Words)).append('-')
        sb.append(body.substring(0, LineWidth)).append('\n')
        if (level == "ERROR") errors += 1 else perSvc(svc) += 1
      }
      write(dir.resolve(f"app-$f%02d.log"), sb.toString)
    }
    SweepFacts(files.toLong * linesPerFile, errors, perSvc.toMap)
  }

  /** The flow_sweep config: GetFile → SplitText → ExtractText →
    * UpdateAttribute → RouteOnAttribute, fanning out to MergeContent
    * (bins correlated on the service; full and undersized bins alike) →
    * PutFile and, on the error branch,
    * AttributesToJSON → HashContent → PutFile. `${bench.out}` is a flow
    * variable bound per pass. */
  def sweepFlowYaml(inputDir: Path): String =
    s"""MiNiFi Config Version: 3
       |Flow Controller:
       |  name: flow_sweep
       |Processors:
       |- {name: get, id: get, class: org.apache.nifi.minifi.processors.GetFile,
       |   Properties: {Input Directory: '$inputDir', File Filter: '.*\\.log'}}
       |- name: split
       |  id: split
       |  class: org.apache.nifi.minifi.processors.SplitText
       |  auto-terminated relationships list: [original]
       |  Properties: {Line Split Count: '1'}
       |- name: extract
       |  id: extract
       |  class: org.apache.nifi.minifi.processors.ExtractText
       |  Properties:
       |    level: '^\\S+ ([A-Z]+) '
       |    svc: 'svc=([a-z]+)'
       |    user: 'user=(u[0-9]+)'
       |- name: tag
       |  id: tag
       |  class: org.apache.nifi.minifi.processors.UpdateAttribute
       |  Properties:
       |    severity: $${level:toLower()}
       |    route.key: $${svc:toUpper():append('-'):append($${level})}
       |    user.len: $${user:length()}
       |- name: route
       |  id: route
       |  class: org.apache.nifi.minifi.processors.RouteOnAttribute
       |  Properties:
       |    errors: $${level:equals('ERROR')}
       |- name: merge
       |  id: merge
       |  class: org.apache.nifi.minifi.processors.MergeContent
       |  Properties:
       |    Merge Strategy: Bin-Packing Algorithm
       |    Correlation Attribute Name: svc
       |    Minimum Number of Entries: '$BinEntries'
       |    Maximum Number of Entries: '$BinEntries'
       |    Demarcator: '\\n'
       |- name: tojson
       |  id: tojson
       |  class: org.apache.nifi.minifi.processors.AttributesToJSON
       |  Properties: {Attributes List: 'level,svc,user', Destination: flowfile-attribute}
       |- {name: hash, id: hash, class: org.apache.nifi.minifi.processors.HashContent,
       |   Properties: {Hash Algorithm: SHA256}}
       |- {name: put_merged, id: put_merged, class: org.apache.nifi.minifi.processors.PutFile,
       |   Properties: {Directory: '$${bench.out}/merged'}}
       |- {name: put_errors, id: put_errors, class: org.apache.nifi.minifi.processors.PutFile,
       |   Properties: {Directory: '$${bench.out}/errors'}}
       |Connections:
       |- {id: c1, source id: get, source relationship names: [success], destination id: split}
       |- {id: c2, source id: split, source relationship names: [splits], destination id: extract}
       |- {id: c3, source id: extract, source relationship names: [success], destination id: tag}
       |- {id: c4, source id: tag, source relationship names: [success], destination id: route}
       |- {id: c5, source id: route, source relationship names: [unmatched], destination id: merge}
       |- {id: c6, source id: route, source relationship names: [errors], destination id: tojson}
       |- {id: c7, source id: tojson, source relationship names: [success], destination id: hash}
       |- {id: c8, source id: hash, source relationship names: [success], destination id: put_errors}
       |- {id: c9, source id: merge, source relationship names: [merged, failure], destination id: put_merged}
       |""".stripMargin

  // -------------------------------------------------------------- log_tail

  final case class TailFacts(lines: Long, emittedPerLevel: Map[String, Long])

  /** `files` multi-line logs of `messagesPerFile` messages: a timestamped
    * header line plus indented frame lines (INFO 0-1, others 1-3). Level
    * and frame counts are the same for every seed, in a seed-shuffled
    * order. The last message of each file stays buffered in
    * DefragmentText (no later header closes it), so only the others are
    * planted as emitted. */
  def logTail(dir: Path, seed: Long, files: Int, messagesPerFile: Int): TailFacts = {
    var lines = 0L
    val emitted = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val m = messagesPerFile
    val plan = (0 until m).map { i =>
      val level = if (i < m * 8 / 100) "ERROR" else if (i < m * 25 / 100) "WARN" else "INFO"
      (level, if (level == "INFO") i % 2 else 1 + i % 3)
    }
    (0 until files).foreach { f =>
      val r = rng(seed, 200 + f)
      val sb = new StringBuilder
      shuffled(r, plan).zipWithIndex.foreach { case ((level, frames), j) =>
        sb.append(f"2026-10-17T${j / 3600 % 24}%02d:${j / 60 % 60}%02d:${j % 60}%02dZ " +
          s"$level svc=${pick(r, Services)} id=m$f-$j msg=${pick(r, Words)} ${pick(r, Words)}\n")
        (0 until frames).foreach { _ =>
          sb.append(s"    at ${pick(r, Words)}.${pick(r, Words)}(Worker.java:${10 + r.nextInt(900)})\n")
        }
        lines += 1 + frames
        if (j < m - 1) emitted(level) += 1
      }
      write(dir.resolve(f"svc-$f%02d.log"), sb.toString)
    }
    TailFacts(lines, emitted.toMap)
  }

  /** The log_tail config: TailFile (Multiple file) → DefragmentText →
    * ExtractText → UpdateAttribute → RouteOnAttribute. The source
    * connection's max work queue size admits `maxQueue` lines per
    * micro-batch. */
  def tailFlowYaml(tailDir: Path, maxQueue: Int): String =
    s"""MiNiFi Config Version: 3
       |Flow Controller:
       |  name: log_tail
       |Processors:
       |- name: tail
       |  id: tail
       |  class: org.apache.nifi.minifi.processors.TailFile
       |  Properties:
       |    tail-mode: Multiple file
       |    tail-base-directory: '$tailDir'
       |    File to Tail: '.*\\.log'
       |- name: defrag
       |  id: defrag
       |  class: org.apache.nifi.minifi.processors.DefragmentText
       |  Properties: {Pattern: '^\\d{4}-'}
       |- name: extract
       |  id: extract
       |  class: org.apache.nifi.minifi.processors.ExtractText
       |  Properties:
       |    level: '^\\S+ ([A-Z]+) '
       |    svc: 'svc=([a-z]+)'
       |- name: tag
       |  id: tag
       |  class: org.apache.nifi.minifi.processors.UpdateAttribute
       |  Properties:
       |    severity: $${level:toLower()}
       |    frames: $${defragment.fragment.count:minus(1)}
       |- name: route
       |  id: route
       |  class: org.apache.nifi.minifi.processors.RouteOnAttribute
       |  Properties:
       |    errors: $${level:equals('ERROR')}
       |    warnings: $${level:equals('WARN')}
       |Connections:
       |- {id: c1, source id: tail, source relationship names: [success], destination id: defrag,
       |   max work queue size: $maxQueue}
       |- {id: c2, source id: defrag, source relationship names: [success], destination id: extract}
       |- {id: c3, source id: extract, source relationship names: [success], destination id: tag}
       |- {id: c4, source id: tag, source relationship names: [success], destination id: route}
       |""".stripMargin

  // ---------------------------------------------------------------- curate

  final case class CurateFacts(docs: Long, boilerplate: Long,
                               exactGroups: Seq[Seq[Long]],
                               nearPairs: Seq[(Long, Long)])

  /** Corpus files, so the scan runs in parallel. */
  val Shards = 8

  private val StopWords = Seq("the", "of", "and", "to", "with", "that", "have", "be")

  /** A Zipf-weighted vocabulary of distinct lowercase words. */
  private final class Vocab(r: SplittableRandom, n: Int) {
    val words: Array[String] = {
      val seen = collection.mutable.LinkedHashSet[String]()
      while (seen.size < n) {
        val len = 3 + r.nextInt(7)
        seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = words.indices.map(i => 1.0 / math.pow(i + 1, 1.05))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def draw(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, words.length - 1))
    }
  }

  /** A JSON-lines corpus (in [[Shards]] files) of about `docs` documents
    * (doc_id, source, text): 15% from the labelled reference source `ref`
    * (its own vocabulary skew), 4% boilerplate that fails the quality
    * rules, planted groups of exact duplicates and planted near-duplicate
    * pairs (the copy gains one trailing word). The counts do not depend
    * on the seed. */
  def curate(dir: Path, seed: Long, docs: Int): CurateFacts = {
    val r = rng(seed, 300)
    val web = new Vocab(rng(seed, 301), 3000)
    val ref = new Vocab(rng(seed, 302), 1200)
    val texts = collection.mutable.ArrayBuffer[(String, String)]()
    def body(v: Vocab): String = {
      val n = 80 + r.nextInt(140)
      val ws = Array.fill(n)(if (r.nextInt(5) == 0) pick(r, StopWords) else v.draw(r))
      ws(r.nextInt(n)) = "the"; ws(r.nextInt(n)) = "of"
      ws.mkString(" ")
    }
    val boiler = math.max(1, docs / 25)
    val groups = math.max(1, docs / 40)
    val pairs = math.max(1, docs / 50)
    val plain = docs - boiler - pairs - groups * 3
    require(plain > 2 * (groups + pairs), s"corpus of $docs docs is too small")
    (0 until plain).foreach { i =>
      if (i % 20 < 3) texts += (("ref", body(ref)))
      else texts += ((s"web${i % 3}", body(web)))
    }
    (0 until boiler).foreach { _ =>
      texts += (("web0", Seq.fill(10 + r.nextInt(30))(pick(r,
        Seq("home", "login", "menu", "subscribe", "cookie", "share"))).mkString(" ")))
    }
    // copies point at distinct plain documents, so planted groups and
    // pairs never overlap
    val exactGroups = (0 until groups).map { g =>
      val base = 2 * g
      val copies = 1 + g % 3
      base.toLong +: (0 until copies).map { _ =>
        texts += texts(base); (texts.size - 1).toLong
      }
    }
    val nearPairs = (0 until pairs).map { p =>
      val base = 2 * groups + 2 * p
      texts += ((texts(base)._1, texts(base)._2 + " " + web.draw(r)))
      (base.toLong, (texts.size - 1).toLong)
    }
    texts.zipWithIndex.grouped((texts.size + Shards - 1) / Shards).zipWithIndex
      .foreach { case (shard, k) =>
        write(dir.resolve(f"corpus-$k%02d.jsonl"), shard.map { case ((src, text), id) =>
          s"""{"doc_id":$id,"source":"$src","text":"$text"}\n""" }.mkString)
      }
    CurateFacts(texts.size.toLong, boiler.toLong, exactGroups, nearPairs)
  }
}
