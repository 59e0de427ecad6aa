package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The memo-boundary ledger gate (VERDICT r19 next-round #2).
  *
  * Every [[CachedPlans.of]]/[[CachedPlans.valueOf]] tag in the engine
  * must be declared in `MEMOS.md` with a class from the documented
  * taxonomy — the build-vs-serve boundary each memo claims lives in
  * ONE reviewable artifact instead of scattered comments. The spec
  * fails on: a source tag missing from the ledger (an undeclared
  * memo), a ledger row with no surviving call site (a stale entry),
  * a class outside the taxonomy, a call site whose tag the
  * extractor cannot read (a computed tag would otherwise escape the
  * ledger silently), a cited file without that tag, or a hand-rolled
  * memo map in a query module or operator (it would bypass the
  * ledger and [[SessionMemo]]'s key and eviction rule).
  */
class MemoLedgerSpec extends AnyFunSuite {

  private val classes = Set("corpus-model", "index-metadata",
    "tokenizer-application", "decoded-media", "stream-gate-ledger",
    "fixture", "bounded-driver-value", "report")

  /** Tags extracted from a source text: third argument's string
    * literal, with interpolated `$ident` segments wildcarded to `*`
    * (the ledger records the stable prefix form). */
  private val callRe =
    """CachedPlans\.(of|valueOf)\(\s*[^,()]+,\s*[^,()]+,\s*(s?)"([^"]*)"""".r
  private val anyCallRe = """CachedPlans\.(of|valueOf)\(""".r

  /** Per source file under src/main/scala (keyed by its path relative
    * to src/main/scala/graft, as MEMOS.md cites it; files outside
    * graft/ get a `../` key): its extracted tags, extracted-call count
    * and total call count. */
  private lazy val fileTags: Map[String, (Set[String], Int, Int)] = {
    val root = Paths.get("src/main/scala/graft")
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).map { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        val tags = callRe.findAllMatchIn(text).map { m =>
          val raw = m.group(3)
          if (m.group(2) == "s" && raw.contains("$"))
            raw.replaceAll("""\$\{?[A-Za-z0-9_]+\}?""", "*")
          else raw
        }.toSeq
        root.relativize(p).toString ->
          (tags.toSet, tags.size, anyCallRe.findAllIn(text).size)
      }.toMap
  }

  private def sourceTags: (Set[String], Int, Int) = {
    val all = fileTags.values
    (all.flatMap(_._1).toSet, all.map(_._2).sum, all.map(_._3).sum)
  }

  private val layouts = Set("narrow-driver", "narrow-pair",
    "wide-parallel", "natural")

  private case class LedgerRow(tag: String, klass: String, sites: String,
      just: String, layout: String)

  private def ledgerRows: Seq[LedgerRow] = {
    val lines = Files.readAllLines(Paths.get("MEMOS.md")).asScala
    val start = lines.indexWhere(_.startsWith("| tag |"))
    assert(start >= 0, "MEMOS.md ledger table header not found")
    lines.drop(start + 2).takeWhile(_.startsWith("|")).toSeq.map { l =>
      val cells = l.split("""\|""").map(_.trim)
      // cells(0) is the empty prefix before the leading pipe
      val tag = cells(1).stripPrefix("`").stripSuffix("`")
      val klass = cells(3)
      val sites = if (cells.length > 4) cells(4) else ""
      val just = if (cells.length > 5) cells(5) else ""
      val layout = if (cells.length > 6) cells(6) else ""
      LedgerRow(tag, klass, sites, just, layout)
    }
  }

  test("every CachedPlans tag is extractable (no computed tags)") {
    val (_, extracted, total) = sourceTags
    assert(extracted == total,
      s"$total CachedPlans call sites but only $extracted extractable " +
        "inline-literal tags — a computed tag would escape the ledger; " +
        "use an inline (possibly interpolated) string literal")
  }

  test("every source tag is declared in MEMOS.md") {
    val (src, _, _) = sourceTags
    val declared = ledgerRows.map(_.tag).toSet
    val undeclared = src -- declared
    assert(undeclared.isEmpty,
      s"memo tags with no MEMOS.md row (declare class + serve work): " +
        undeclared.toSeq.sorted.mkString(", "))
  }

  test("every MEMOS.md row has a surviving call site") {
    val (src, _, _) = sourceTags
    val stale = ledgerRows.map(_.tag).toSet -- src
    assert(stale.isEmpty,
      s"MEMOS.md rows with no call site left in src/main (delete them): " +
        stale.toSeq.sorted.mkString(", "))
  }

  test("every file a MEMOS.md row cites holds a CachedPlans call " +
      "with that row's tag") {
    val citeRe = """`([\w/]+\.scala)(:[\d-]+)?`""".r
    val bad = ledgerRows.flatMap { r =>
      citeRe.findAllMatchIn(r.sites).toSeq.flatMap { m =>
        val f = m.group(1)
        if (m.group(2) != null)
          Some(s"${r.tag}: cites a line (`$f${m.group(2)}`); cite the file")
        else if (!fileTags.get(f).exists(_._1(r.tag)))
          Some(s"${r.tag}: `$f` has no CachedPlans call with this tag")
        else None
      }
    }
    assert(bad.isEmpty, bad.mkString("; "))
    assert(ledgerRows.forall(r => citeRe.findFirstIn(r.sites).nonEmpty),
      "rows citing no source file: " + ledgerRows
        .filter(r => citeRe.findFirstIn(r.sites).isEmpty).map(_.tag)
        .mkString(", "))
  }

  test("no hand-rolled memo maps in query modules or operators") {
    // driver-side state in queries/ and operators/ is memoized through
    // SessionMemo (CachedPlans.of/valueOf, IndexStore's read memo):
    // one key (session, app, dir, tag), one eviction rule, one ledger
    val handRe = """ConcurrentHashMap|computeIfAbsent|TrieMap""".r
    val hits = Seq("queries", "operators").flatMap { d =>
      Files.walk(Paths.get(s"src/main/scala/graft/$d")).iterator().asScala
        .filter(p => p.toString.endsWith(".scala")).toSeq.flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (l, i) if handRe.findFirstIn(l).nonEmpty =>
              s"$p:${i + 1}"
          }
        }
    }
    assert(hits.isEmpty, s"${hits.size} hand-rolled memo lines (use " +
      s"CachedPlans.valueOf or a SessionMemo): ${hits.mkString(", ")}")
  }

  test("every MEMOS.md row's class is in the taxonomy") {
    val bad = ledgerRows.filterNot(r => classes(r.klass))
    assert(bad.isEmpty,
      s"rows with a class outside the documented taxonomy: " +
        bad.map(r => s"${r.tag} -> ${r.klass}").mkString(", "))
  }

  test("no duplicate ledger rows") {
    val dup = ledgerRows.groupBy(_.tag).filter(_._2.size > 1).keys
    assert(dup.isEmpty, s"duplicate MEMOS.md rows: ${dup.mkString(", ")}")
  }

  test("every MEMOS.md row declares a layout from the layout taxonomy") {
    // Round 21 (VERDICT r20 next-round #2): memo layout is part of
    // the serve-cost contract — a cached plan keeps its build-time
    // partitioning forever, so the governance must be declared, not
    // scattered in comments.
    val bad = ledgerRows.filterNot(r => layouts(r.layout))
    assert(bad.isEmpty,
      s"rows missing a layout column value from ${layouts.toSeq.sorted.mkString("/")}: " +
        bad.map(r => s"${r.tag} -> '${r.layout}'").mkString(", "))
  }

  test("every report-class row carries a per-query justification " +
      "(names its owning query; no copy-paste boilerplate)") {
    // Round 22 (VERDICT r21 next-round #6): `report` memoizes an
    // entire query output, so each row must argue — per row, against
    // the owning query's declared NAME — why that name is build-
    // shaped (a curve/audit/truth artifact constructed once per
    // corpus/model), or state honestly what serve work was absorbed.
    // Enforced shape: the justification names a qNN_ query and is
    // unique across report rows (22 identical sentences justify
    // nothing).
    val reports = ledgerRows.filter(_.klass == "report")
    assert(reports.nonEmpty)
    val qRe = """q\d+_\w+""".r
    val unnamed = reports.filter(r => qRe.findFirstIn(r.just).isEmpty)
    assert(unnamed.isEmpty,
      "report rows whose justification does not name the owning query: " +
        unnamed.map(_.tag).mkString(", "))
    val dup = reports.groupBy(_.just).filter(_._2.size > 1).values
    assert(dup.isEmpty,
      "report rows sharing a copy-paste justification: " +
        dup.map(_.map(_.tag).mkString("/")).mkString("; "))
  }

  test("no bare partition-count literals in query modules outside writes") {
    // The round-20 coalesce(1)/coalesce(4) literals were correct at
    // bench sf and silently wrong at 100x (a literal CAP on a grown
    // memo bottlenecks every consumer). All memo/serve narrowing must
    // derive its count from measured cardinality
    // (CachedPlans.layout / sizedCoalesce); a literal is only
    // acceptable for output-file sizing, i.e. immediately followed by
    // `.write`.
    val litRe = """\.(coalesce|repartition)\(\s*\d[^)]*\)""".r
    val files = Files.walk(Paths.get("src/main/scala/graft/queries"))
      .iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    val offenders = files.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      litRe.findAllMatchIn(text).flatMap { m =>
        val after = text.drop(m.end).take(8)
        if (after.startsWith(".write")) None
        else {
          val line = text.take(m.start).count(_ == '\n') + 1
          Some(s"$p:$line ${m.matched}")
        }
      }
    }
    assert(offenders.isEmpty,
      "literal partition counts in query modules (use CachedPlans.layout/" +
        s"sizedCoalesce): ${offenders.mkString("; ")}")
  }
}
