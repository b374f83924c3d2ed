package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine._

/** Model-based random-walk check of the engine's CRUD + cascade + search
  * semantics: a seeded sequence of operations is applied BOTH to the
  * engine and to a trivial in-memory reference model (plain maps — the
  * same shape the reference implementation uses, vector_store.py:20-30),
  * then the full visible state must agree: entity id sets, derived
  * counts, cascade effects, and a search against brute force over the
  * model. A save + reopen happens MID-WALK at a random step, so
  * persistence is exercised under an arbitrary mutation history, not
  * just the hand-built states the targeted specs use.
  *
  * The walk draws each library's STORAGE (float32 / sq8 / pq) and INDEX
  * KIND (flat / ivf / random_projection) at creation — the lifecycle
  * edges the targeted pq/sq8/ivf specs fixed by hand (patch wiping
  * codes, codebook leaks across delete/recreate, stale index keys) are
  * exactly what a random walk catches mechanically. Index metadata
  * installs (PQ codebooks before ingest, IVF centroids, and mid-walk
  * RE-installs that re-derive/re-base stored keys) are ops in the
  * alphabet. Search comparisons SATURATE every approximate knob
  * (nprobe >= C, adaptive multiplier and rescore >> n) so each storage
  * kind's funnel must degenerate to the exact brute-force ranking — and
  * a final `rebuildIndexKeys()` heal must be a visible no-op (stored
  * bucket/codes/norm columns already equal their re-derivation), which
  * pins stored index keys to the installed models after ANY history.
  *
  * Seeded and deterministic — a failure reproduces exactly. */
class ModelCheckSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private case class MChunk(id: String, docId: String, libId: String,
                            text: String, emb: Seq[Float], idx: Int,
                            parity: Int)
  private case class MLib(id: String, storage: String, kind: String)

  test("300-op random walk over mixed storage/index kinds: engine state " +
    "== reference model (ids, counts, cascades, search), mid-walk " +
    "save/reopen, final heal is a no-op") {
    val rng = new scala.util.Random(20260813L)
    var e = VectorEngine.create(spark)
    // reference model
    var mLibs = Map.empty[String, MLib]
    var mDocs = Map.empty[String, String]            // doc -> lib
    var mChunks = Map.empty[String, MChunk]
    var nextId = 0
    def fresh(prefix: String): String = { nextId += 1; s"$prefix$nextId" }
    def randVec(): Seq[Float] = Seq.fill(4)(rng.nextFloat() * 2 - 1)
    def pick[T](xs: Iterable[T]): Option[T] =
      if (xs.isEmpty) None else Some(xs.toSeq(rng.nextInt(xs.size)))

    // deterministic-but-random index metadata for a new/re-installed model
    def pqCodebookRows(): Seq[(Int, Long, Seq[Float])] =
      for (m <- 0 until 2; c <- 0 until 4)
        yield (m, c.toLong, Seq.fill(2)(rng.nextFloat() * 2 - 1))
    def ivfCentroids(): Seq[(Long, Seq[Float])] =
      (0 until 3).map(c => c.toLong -> randVec())
    def installMeta(lib: MLib): Unit = {
      // order matters for ivf+pq (residual codes re-base off the cells):
      // centroids first, then codebooks — the same order the engine's
      // ingest contract documents
      if (lib.kind == VectorEngine.IndexKindIvf)
        e.setIvfCentroids(lib.id, ivfCentroids())
      if (lib.storage == VectorEngine.StoragePq)
        e.setPqCodebooks(lib.id, pqCodebookRows())
    }

    val reopenAt = 100 + rng.nextInt(100)
    (0 until 300).foreach { step =>
      if (step == reopenAt) {
        // persistence under an arbitrary history: save, reopen, continue
        val dir = graft.operators.Scratch.newDir("walk").toString
        e.save(dir)
        e = VectorEngine.open(spark, dir)
      }
      rng.nextInt(11) match {
        case 0 | 1 =>
          val id = fresh("L")
          // draw storage and index kind; compact storages (sq8/pq)
          // exclude the lsh kind (the engine's documented constraint)
          val storage = Seq(VectorEngine.StorageFloat32,
            VectorEngine.StorageSq8, VectorEngine.StoragePq)(rng.nextInt(3))
          val kind =
            if (storage == VectorEngine.StorageFloat32)
              Seq(VectorEngine.IndexKindFlat, VectorEngine.IndexKindIvf,
                VectorEngine.IndexKindLsh)(rng.nextInt(3))
            else Seq(VectorEngine.IndexKindFlat,
              VectorEngine.IndexKindIvf)(rng.nextInt(2))
          e.createLibrary(s"lib-$id", dim = 4, indexKind = kind,
            id = Some(id), storage = storage)
          val lib = MLib(id, storage, kind)
          // pq ingest REQUIRES codebooks — install metadata at birth
          // (ivf centroids too, so cells are stored from the first row)
          installMeta(lib)
          mLibs += id -> lib
        case 2 | 3 =>
          pick(mLibs.keys).foreach { lib =>
            val id = fresh("D")
            e.createDocument(lib, s"doc-$id", id = Some(id))
            mDocs += id -> lib
          }
        case 4 | 5 | 6 =>
          pick(mDocs.keys).foreach { doc =>
            val id = fresh("C")
            val v = randVec()
            // typed metadata on every chunk so the final filtered-search
            // check has an allow set to cut on
            val parity = nextId % 2
            e.addChunksBatch(doc, Seq(
              ChunkInput(s"text $id", v, Map("parity" -> parity), nextId,
                Some(id))))
            mChunks += id -> MChunk(id, doc, mDocs(doc), s"text $id", v,
              nextId, parity)
          }
        case 7 =>
          pick(mChunks.keys).foreach { id =>
            if (rng.nextBoolean()) {
              val v = randVec()
              e.patchChunk(id, embedding = Some(v))
              mChunks += id -> mChunks(id).copy(emb = v)
            } else {
              // text-only patch: the edge that once wiped stored codes
              e.patchChunk(id, text = Some(s"patched $id"))
              mChunks += id -> mChunks(id).copy(text = s"patched $id")
            }
          }
        case 8 =>
          pick(mChunks.keys).foreach { id =>
            e.deleteChunk(id)
            mChunks -= id
          }
        case 9 =>
          if (rng.nextBoolean())
            pick(mDocs.keys).foreach { doc =>
              e.deleteDocument(doc)
              mDocs -= doc
              mChunks = mChunks.filterNot(_._2.docId == doc)
            }
          else
            pick(mLibs.keys).foreach { lib =>
              e.deleteLibrary(lib)
              mLibs -= lib
              mDocs = mDocs.filterNot(_._2 == lib)
              mChunks = mChunks.filterNot(_._2.libId == lib)
            }
        case 10 =>
          // mid-walk metadata RE-install: new centroids re-base every
          // stored cell (and residual code), new codebooks re-derive
          // every stored code — on a library with arbitrary history
          pick(mLibs.values.filter(l =>
            l.kind == VectorEngine.IndexKindIvf ||
              l.storage == VectorEngine.StoragePq))
            .foreach(installMeta)
      }
    }
    // full-state agreement
    assert(e.librariesDf.select("id").collect().map(_.getString(0)).toSet
      == mLibs.keySet)
    assert(e.documentsDf.select("id").collect().map(_.getString(0)).toSet
      == mDocs.keySet)
    assert(e.chunksDf.select("id").collect().map(_.getString(0)).toSet
      == mChunks.keySet)
    // derived counts per library (cascades cannot leave drift behind)
    mLibs.keySet.foreach { lib =>
      assert(e.documentCount(lib) == mDocs.count(_._2 == lib), s"docs of $lib")
      assert(e.chunkCount(lib) == mChunks.count(_._2.libId == lib),
        s"chunks of $lib")
    }
    // search every non-empty library == brute force over the model, with
    // every approximate knob SATURATED: nprobe covers all cells, the
    // adaptive probe target and rescore exceed any library's size — so
    // sq8/pq/ivf/lsh funnels must all collapse to the exact ranking
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      def dot(x: Seq[Float], y: Seq[Float]): Double =
        x.zip(y).foldLeft(0.0d) { case (acc, (p, q)) =>
          acc + p.toDouble * q.toDouble }
      val (na, nb) = (math.sqrt(dot(a, a)), math.sqrt(dot(b, b)))
      if (na == 0.0d || nb == 0.0d) Double.PositiveInfinity
      else 1.0d - dot(a, b) / (na * nb)
    }
    mLibs.keySet.filter(lib => mChunks.values.exists(_.libId == lib))
      .foreach { lib =>
        val q = randVec()
        val got = e.search(lib, q, k = 5, nprobeOpt = Some(64),
          adaptiveMultiplier = 10000, rescoreOpt = Some(100000)).collect()
          .map(r => (r.getString(0), r.getDouble(1))).toSeq
        val want = mChunks.values.filter(_.libId == lib)
          .map(c => (c.id, math.rint(cosine(c.emb, q) * 1e6) / 1e6 + 0.0d))
          .toSeq.sortBy(p => (p._2, p._1)).take(5)
        assert(got.map(_._1) == want.map(_._1),
          s"search ranking in $lib (${mLibs(lib)})")
        // the same query FILTERED: the typed allow set scopes every
        // funnel stage (candidate sets, fallback decisions, rescore),
        // and a parity the library doesn't contain must short-circuit
        // to empty without consulting the index
        val gotF = e.search(lib, q, k = 5, filters = Map("parity" -> 0),
          nprobeOpt = Some(64), adaptiveMultiplier = 10000,
          rescoreOpt = Some(100000)).collect()
          .map(r => r.getString(0)).toSeq
        val wantF = mChunks.values
          .filter(c => c.libId == lib && c.parity == 0)
          .map(c => (c.id, math.rint(cosine(c.emb, q) * 1e6) / 1e6 + 0.0d))
          .toSeq.sortBy(p => (p._2, p._1)).take(5).map(_._1)
        assert(gotF == wantF,
          s"filtered search ranking in $lib (${mLibs(lib)})")
      }
    // the heal must be a visible no-op: stored bucket/codes/norm columns
    // already equal their re-derivation from the installed models
    def keySnapshot(): Map[String, (Option[Long], Seq[Int], Option[Double])] =
      e.chunksDf.select("id", "bucket", "codes", "qmin").collect().map { r =>
        r.getString(0) -> (
          (if (r.isNullAt(1)) None else Some(r.getLong(1))),
          (if (r.isNullAt(2)) Seq.empty[Int] else r.getSeq[Int](2)),
          (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      }.toMap
    val before = keySnapshot()
    e.rebuildIndexKeys()
    assert(keySnapshot() == before, "rebuildIndexKeys changed stored keys")
    val kinds = mLibs.values.groupBy(l => (l.storage, l.kind))
      .map { case (k, v) => s"$k x${v.size}" }.mkString(", ")
    info(s"final state: ${mLibs.size} libraries [$kinds], " +
      s"${mDocs.size} documents, ${mChunks.size} chunks; reopened at step $reopenAt")
  }
}
