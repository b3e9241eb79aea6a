package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Promoted-corpus GENERATIONS — the fold-back-to-base half of the
  * ingest lifecycle ([[Ingest.promote]], VERDICT r18 task 1; BUCKETED
  * since r20, VERDICT r19 task 2).
  *
  * [[IndexOverlay]]'s manifest chain makes commits O(batch), and
  * [[Ingest.compact]] bounds SEGMENT COUNT — but overlay rows never
  * left the overlay: base artifacts are built from the source tables
  * only, so after enough streaming commits the overlay IS the corpus
  * and every probe pays the two-branch base∪overlay plan (plus the
  * tombstone anti-join) forever. A PROMOTION folds the standing state —
  * base ∪ visible overlay − tombstones — into a fresh base GENERATION:
  *
  *   `indexDir(d)/gens/gen_NNNNN/`
  *     `tables/<name>/_bkt=K`  — the promoted corpus snapshots
  *         (`(doc_id, text)` / `(vec_id, embedding)`; the USER's source
  *         parquet is never touched), id-hash-BUCKETED: bucket =
  *         `pmod(id, nbuckets)` (the plain numeric id — engine-portable
  *         and stable forever, so a row's bucket never moves)
  *     `art/<family>/_bkt=K`   — the promoted id-keyed index artifacts,
  *         same bucketing; the one SET-shaped artifact (the hot-shingle
  *         cap) stays whole at `art/<family>`
  *     `meta.tsv`              — `watermark`, `nbuckets`, aggregate
  *         per-table/per-family row counts, and one `tb`/`ab` line per
  *         NON-EMPTY bucket: (name, bucket, rows, absolute path)
  *
  * The bucket lines are the INCREMENTAL-promote mechanism (VERDICT r19
  * task 2 — the r19 fold rewrote the full corpus even for a 0.1%
  * overlay): a promote folds ONLY the buckets the overlay touches
  * (committed/replaced/deleted/healed ids), writes fresh `_bkt=K` dirs
  * for those into the new generation, and REFERENCES the previous
  * generation's bucket dirs — by absolute path, across any number of
  * generations — for the rest. Readers union the listed paths, so a
  * generation is a logical manifest over physical buckets, Iceberg-
  * style. Cost per promote: O(touched-bucket rows + overlay), bounded
  * below by corpus/nbuckets granularity. A family ABSENT from the
  * previous generation (first promote, or families minted by a
  * [[Ingest.retrain]] re-dial) folds fully — there is nothing to
  * reference.
  *
  * Crash atomicity is the same one-flip rule as the manifest chain: the
  * whole generation dir publishes through one atomic rename, and its
  * `watermark` retires every overlay manifest with id ≤ watermark at
  * that instant — [[IndexOverlay.effectiveEntriesSeq]] drops them from
  * the chain, so there is NO window where a reader sees promoted rows
  * twice (gen + overlay) or not at all. A crash before the flip leaves
  * an invisible temp dir. [[gcGens]] is a MARK-AND-SWEEP over the
  * bucket references: a superseded generation keeps exactly the bucket
  * dirs the newest generation still points into (its meta and marker
  * stay as tiny tombstones) and is deleted whole once nothing
  * references it; the grace window retains superseded generations
  * in full, as before.
  *
  * Scope: generations hold the lifecycle's state, like the overlay —
  * driver-side listings + a tiny meta file to read, through the Hadoop
  * FileSystem layer ([[sources.Store]]). Geometry stays FROZEN across
  * promotions; re-dialing it is [[Ingest.retrain]]'s job. */
object CorpusGen {

  /** Default bucket count for a store's FIRST promotion (later ones
    * reuse the recorded dial — a row's bucket must never move). The
    * granularity of the incremental fold: a promote rewrites at least
    * ceil(touched/nbuckets) of the corpus. 64 keeps fixture-scale file
    * counts sane; a 100 TB deployment passes 1024+ through
    * [[graft.operators.LlmPipeline.ingestPromote]]'s dial (each bucket
    * is still tens of GB there). */
  private[graft] val DEFAULT_BUCKETS = 64

  /** One physical bucket reference: bucket id, footer-exact rows, and
    * the ABSOLUTE dir path (possibly inside an older generation). */
  final case class BRef(bucket: Int, rows: Long, path: String)

  /** One published generation: id, root path, the overlay-manifest
    * watermark it folded, publish mtime, the bucket dial, aggregate row
    * counts, and the per-bucket references. Legacy (pre-bucket) gens
    * parse with empty bucket maps and are read through their whole
    * `tables/<n>` / `art/<f>` dirs. */
  final case class Gen(id: Int, path: String, watermark: Int, mtime: Long,
    nbuckets: Int, tableRows: Map[String, Long], artRows: Map[String, Long],
    tblB: Map[String, Seq[BRef]], artB: Map[String, Seq[BRef]])

  private def gensDir(d: String): String = s"${Tables.indexDir(d)}/gens"
  private val GenName = "gen_(\\d+)".r

  /** Construction-time SNAPSHOT pin (ADVICE r19): one standing-view plan
    * construction consults the current generation several times — the
    * base readers (IndexDomain.corpus / genArt) and the chain filter
    * ([[IndexOverlay.effectiveEntriesSeq]]'s watermark) — so a promote
    * flipping between two reads on a SHARED store could yield a
    * base-OLD/chain-NEW plan that reads the folded rows from neither
    * branch. [[pinned]] reads the gen once and serves that snapshot to
    * every [[current]]/[[watermark]] call in the dynamic scope (the
    * standing-view constructors in LlmPipeline open it). Thread-local
    * and reentrant (an outer pin wins), so concurrent sessions never
    * share a snapshot. Cross-view skew — two separately-pinned views in
    * one probe straddling a promote — is benign by promotion's
    * probe-invariance (both snapshots present the same standing rows). */
  private val pin =
    new scala.util.DynamicVariable[Map[String, Option[Gen]]](Map.empty)

  private[graft] def pinned[T](d: String)(body: => T): T =
    if (pin.value.contains(d)) body
    else pin.withValue(pin.value + (d -> listCurrent(d)))(body)

  /** The latest published generation, None on a never-promoted store
    * (the every-registered-query fast path: one directory listing) —
    * served from the [[pinned]] snapshot when one is open. */
  def current(d: String): Option[Gen] =
    pin.value.getOrElse(d, listCurrent(d))

  private def parseGen(d: String, id: Int, f: sources.Store.St): Gen = {
    val meta = sources.Store.readUtf8(s"${f.path}/meta.tsv").getOrElse("")
      .split('\n').filter(_.nonEmpty).map(_.split('\t'))
    // Gen.path uses the same root string the publish recorded its refs
    // under (NOT the scheme-qualified listing path), so ref paths and
    // gen paths compare and compose consistently everywhere
    Gen(id, f"${gensDir(d)}/gen_$id%05d",
      meta.collectFirst { case Array("watermark", w) => w.toInt }.getOrElse(-1),
      f.mtime,
      meta.collectFirst { case Array("nbuckets", n) => n.toInt }.getOrElse(0),
      meta.collect { case Array("table", n, r) => n -> r.toLong }.toMap,
      meta.collect { case Array("art", n, r) => n -> r.toLong }.toMap,
      meta.collect { case Array("tb", n, b, r, p) => (n, BRef(b.toInt, r.toLong, p)) }
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSeq },
      meta.collect { case Array("ab", n, b, r, p) => (n, BRef(b.toInt, r.toLong, p)) }
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSeq })
  }

  private def listGenDirs(d: String): Seq[(Int, sources.Store.St)] =
    sources.Store.list(gensDir(d)).flatMap { f =>
      f.name match {
        case GenName(id) if f.isDir &&
          sources.Store.exists(s"${f.path}/_SUCCESS") => Some((id.toInt, f))
        case _ => None
      }
    }.sortBy(_._1)

  private def listCurrent(d: String): Option[Gen] =
    listGenDirs(d).lastOption.map { case (id, f) => parseGen(d, id, f) }

  /** Scheme-blind path form for REFERENCE comparisons only (listings
    * come back scheme-qualified — `file:/…`, `testdfs:/…` — while meta
    * refs carry whatever the index root was addressed with; comparing
    * raw strings silently mismatches). Never used for I/O. */
  private def bare(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** The overlay-manifest watermark: manifests with id ≤ this are folded
    * into the current generation and MUST be ignored by chain readers
    * (and eventually GC'd). −1 on a never-promoted store. */
  def watermark(d: String): Int = current(d).map(_.watermark).getOrElse(-1)

  private def readRefs(s: SparkSession, refs: Seq[BRef]): Option[DataFrame] =
    if (refs.isEmpty) None else Some(Tables.readStored(s, refs.map(_.path): _*))

  /** The promoted corpus snapshot for `table` ("documents" /
    * "embeddings"), when the current generation carries one — a union
    * read over its bucket references (legacy gens: the whole dir). An
    * all-rows-deleted table reads through the legacy empty dir. */
  def table(s: SparkSession, d: String, table: String): Option[DataFrame] =
    current(d).filter(_.tableRows.contains(table)).map { g =>
      readRefs(s, g.tblB.getOrElse(table, Seq.empty))
        .getOrElse(Tables.readStored(s, s"${g.path}/tables/$table"))
    }

  /** [[table]] restricted to the given buckets — the path-level prune
    * behind the INCREMENTAL fold: untouched buckets are never opened.
    * None when the generation has no bucket refs for the table (legacy
    * layout — the caller folds fully). Empty-bucket set reads nothing:
    * returns an empty frame via an impossible filter on the full read. */
  private[graft] def tableBuckets(s: SparkSession, d: String, table: String,
      buckets: Set[Int]): Option[DataFrame] =
    current(d).flatMap(_.tblB.get(table)).map { refs =>
      val hit = refs.filter(r => buckets.contains(r.bucket))
      readRefs(s, hit).getOrElse(
        readRefs(s, refs).get.where(org.apache.spark.sql.functions.lit(false)))
    }

  /** The promoted artifact for `family`, when the current generation
    * carries it — bucket-ref union for id-keyed families, the whole
    * `art/<family>` dir for set-shaped ones (and legacy gens). Absent
    * exactly when the family was minted AFTER the promotion (a
    * re-dial) — the caller falls back to the gen-0 artifact restricted
    * to snapshot ids, and [[Ingest.overlayReport]] surfaces the gap
    * until the next promotion heals it. */
  def artifact(s: SparkSession, d: String, family: String): Option[DataFrame] =
    current(d).filter(_.artRows.contains(family)).map { g =>
      readRefs(s, g.artB.getOrElse(family, Seq.empty))
        .getOrElse(Tables.readStored(s, s"${g.path}/art/$family"))
    }

  /** [[artifact]] restricted to the given buckets ([[tableBuckets]]'s
    * contract). */
  private[graft] def artifactBuckets(s: SparkSession, d: String, family: String,
      buckets: Set[Int]): Option[DataFrame] =
    current(d).flatMap(_.artB.get(family)).map { refs =>
      val hit = refs.filter(r => buckets.contains(r.bucket))
      readRefs(s, hit).getOrElse(
        readRefs(s, refs).get.where(org.apache.spark.sql.functions.lit(false)))
    }

  /** Publish generation `id` atomically: `write` receives the temp root
    * and must lay out `tables/` and `art/`, returning the aggregate
    * counts, the per-bucket references (freshly written AND carried
    * forward from older generations — absolute paths), and the bucket
    * dial. Meta and the completion marker are written before the flip.
    * Returns the published path.
    *
    * Carried-forward reference paths point into OLDER generations'
    * dirs; the flip makes them load-bearing for the new generation, and
    * [[gcGens]]'s mark phase is what keeps them alive. */
  private[graft] def publish(d: String, id: Int, watermark: Int, nbuckets: Int)(
      write: String => (Seq[(String, Long)], Seq[(String, Long)],
        Seq[(String, BRef)], Seq[(String, BRef)])): String = {
    val path = f"${gensDir(d)}/gen_$id%05d"
    sources.Sinks.publishAtomic(path) { tmp =>
      val (tables, arts, tb, ab) = write(tmp)
      // bucket dirs written into THIS generation were laid out under the
      // temp root; their recorded paths must be the post-rename ones.
      // Matched on the temp dir's NAME component: listings come back
      // scheme-qualified (file:/…, testdfs:/…) while `tmp` is the raw
      // string, so a prefix compare would silently record temp paths
      val tmpName = "/" + new org.apache.hadoop.fs.Path(tmp).getName
      def fix(p: String): String = {
        val i = p.indexOf(tmpName)
        if (i < 0) p else path + p.substring(i + tmpName.length)
      }
      val lines = Seq(s"watermark\t$watermark", s"nbuckets\t$nbuckets") ++
        tables.map { case (n, r) => s"table\t$n\t$r" } ++
        arts.map { case (n, r) => s"art\t$n\t$r" } ++
        tb.map { case (n, b) => s"tb\t$n\t${b.bucket}\t${b.rows}\t${fix(b.path)}" } ++
        ab.map { case (n, b) => s"ab\t$n\t${b.bucket}\t${b.rows}\t${fix(b.path)}" }
      sources.Store.writeUtf8(s"$tmp/meta.tsv", lines.mkString("\n"))
      sources.Store.touch(s"$tmp/_SUCCESS")
    }
    path
  }

  /** Last promote's measured cost — (wall seconds, overlay rows folded,
    * corpus rows written), the inputs of [[graft.Ingest.promoteReport]]'s
    * cost model (VERDICT r19 task 6). Plain-overwrite observability, not
    * lifecycle state: a lost file only blanks the estimate columns. */
  private[graft] def writePromoteStats(d: String, sec: Double,
      overlayRows: Long, corpusRows: Long): Unit =
    sources.Store.writeUtf8(s"${gensDir(d)}/promote_stats.tsv",
      f"sec\t$sec%.3f%noverlay_rows\t$overlayRows%ncorpus_rows\t$corpusRows")

  private[graft] def readPromoteStats(d: String): Option[(Double, Long, Long)] =
    sources.Store.readUtf8(s"${gensDir(d)}/promote_stats.tsv").flatMap { text =>
      val kv = text.split('\n').filter(_.nonEmpty).map(_.split('\t'))
        .collect { case Array(k, v) => k -> v }.toMap
      for {
        sec <- kv.get("sec").map(_.toDouble)
        ov <- kv.get("overlay_rows").map(_.toLong)
        corp <- kv.get("corpus_rows").map(_.toLong)
      } yield (sec, ov, corp)
    }

  /** Reclaim superseded generations — MARK-AND-SWEEP since the bucketed
    * layout (r20): the newest generation may reference bucket dirs
    * inside arbitrarily old ones, so a superseded generation is deleted
    * WHOLE only when the newest references nothing under it, and is
    * otherwise stripped down to exactly the referenced bucket dirs
    * (meta + marker stay as tiny tombstones — the gen is never `current`
    * again, only its buckets are load-bearing). `retainMillis` keeps
    * every superseded generation intact while the newest flip is
    * younger than the window — [[IndexOverlay.gc]]'s grace contract. */
  private[graft] def gcGens(d: String, retainMillis: Long = 0L): Unit = {
    val now = System.currentTimeMillis()
    val gens = listGenDirs(d)
    if (gens.size > 1) {
      val newest = gens.last
      val withinGrace = retainMillis > 0 && now - newest._2.mtime < retainMillis
      if (!withinGrace) {
        val g = parseGen(d, newest._1, newest._2)
        // scheme-blind compare: listings are scheme-qualified, refs are
        // root-string-based — a raw compare deleted referenced buckets
        val referenced: Set[String] =
          (g.tblB.values.flatten ++ g.artB.values.flatten)
            .map(r => bare(r.path)).toSet
        def keptUnder(p: String): Boolean = {
          val b = bare(p)
          referenced.exists(k => k == b || k.startsWith(b + "/"))
        }
        gens.dropRight(1).foreach { case (_, f) =>
          if (!keptUnder(f.path)) {
            sources.Store.delete(f.path)
            sources.Store.delete(s"${f.path}.lock")
          } else Seq("tables", "art").foreach { grp =>
            val root = s"${f.path}/$grp"
            sources.Store.list(root).foreach { fam =>
              if (!keptUnder(fam.path)) sources.Store.delete(fam.path)
              else {
                sources.Store.list(fam.path).foreach { bk =>
                  if (!keptUnder(bk.path)) sources.Store.delete(bk.path)
                }
                if (sources.Store.list(fam.path).isEmpty)
                  sources.Store.delete(fam.path)
              }
            }
            if (sources.Store.exists(root) && sources.Store.list(root).isEmpty)
              sources.Store.delete(root)
          }
        }
      }
    }
    // crashed promotions' temp dirs: gcGens runs right after a
    // successful publish under the exclusive promote writer, so any
    // `gen_N.tmp.<uuid>` present belongs to a dead writer
    sources.Store.list(gensDir(d)).foreach { f =>
      if (f.isDir && f.name.contains(".tmp.")) sources.Store.delete(f.path)
    }
  }
}
