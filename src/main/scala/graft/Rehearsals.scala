package graft

import org.apache.spark.sql.SparkSession
import graft.hcs.HcsRehearsal
import graft.meta.Model.Method
import graft.operators.{CclRehearsal, DicomRehearsal, EdtRehearsal, FillRehearsal, PyramidRehearsal}
import graft.ops.{AnnRehearsal, BpeRehearsal, CovRehearsal, DeconRehearsal, DedupRehearsal,
  ImgDedupRehearsal, KcoreRehearsal}
import graft.sources.CrawlRehearsal
import graft.tools.IoControlRehearsal

/** The at-scale rehearsals, in [[Bench]] run order. Each one builds a
  * synthetic input at scale, runs a production path over it, checks
  * the result exactly (checksum, recall, planted recovery — a failed
  * invariant throws) and returns its wall seconds.
  *
  * This registry is the one dispatcher: [[Bench]] runs every entry and
  * [[Rehearse]] runs one by its bench key, so a standalone A/B runs
  * exactly the bench's code and sizes. Sizes are the rehearsal
  * objects' own defaults; the `SPARK_GRAFT_BENCH_*_N` / `_SIDE` / ...
  * variables override them and are read here only.
  */
object Rehearsals {

  /** The size overrides a run sees. */
  final class Sizes(env: Map[String, String]) {
    def long(name: String): Option[Long] = env.get(name).map(_.toLong)
    def int(name: String): Option[Int] = env.get(name).map(_.toInt)
  }

  /** One bench key. `medianed` keys repeat in fresh sessions (Bench's
    * `SPARK_GRAFT_BENCH_NVAR`, default 3) and report the median; the
    * rest run once. `optOut` set to `0` skips the key in Bench. A run
    * returns one time per phase: the key reports their sum and, when
    * `phases` names them, each phase as `<key>_<phase>`.
    */
  final case class Rehearsal(key: String, medianed: Boolean, optOut: String,
      phases: Seq[String], body: (SparkSession, Sizes) => Seq[Double]) {
    def run(spark: SparkSession, env: Map[String, String] = sys.env): Seq[Double] =
      body(spark, new Sizes(env))
    def reportKeys: Seq[String] = key +: phases.map(p => s"${key}_$p")
  }

  private def once(key: String, optOut: String)(run: (SparkSession, Sizes) => Double) =
    Rehearsal(key, medianed = false, optOut, Nil, (s, z) => Seq(run(s, z)))
  private def repeated(key: String, optOut: String)(run: (SparkSession, Sizes) => Double) =
    Rehearsal(key, medianed = true, optOut, Nil, (s, z) => Seq(run(s, z)))

  // the skew pair's identical-boilerplate clique: past the AUTO
  // hot-bucket threshold max(64, ⌈√(2·rows)⌉) ≈ 2550 at 200k docs, so
  // the salted skew path arms at rehearsal scale (asserted in the run)
  private val SkewBoilerplate = 3000L

  val all: Seq[Rehearsal] = Seq(
    // 512³ distributed gen → 3-level cascade → sharded write → re-read
    // checksum parity
    once("i_pyramid512", "SPARK_GRAFT_BENCH_PYRAMID")((s, _) => PyramidRehearsal.run(s)),
    // the same cascade through the halo-exchange gaussian path
    once("i_pyramid512_gauss", "SPARK_GRAFT_BENCH_PYRAMID")((s, _) =>
      PyramidRehearsal.run(s, method = Method.ItkwasmGaussian)),
    // 200k docs with planted near-dups: MinHash → LSH → verify → CC →
    // canonical, recovery-checked against the plant
    once("t_dedup200k", "SPARK_GRAFT_BENCH_DEDUP")((s, z) =>
      z.long("SPARK_GRAFT_BENCH_DEDUP_N").fold(DedupRehearsal.run(s))(DedupRehearsal.run(s, _))),
    // plus the boilerplate clique: the salted skew path, high variance
    repeated("t_dedup200k_skew", "SPARK_GRAFT_BENCH_DEDUP") { (s, z) =>
      val b = z.long("SPARK_GRAFT_BENCH_DEDUP_BOILER").getOrElse(SkewBoilerplate)
      z.long("SPARK_GRAFT_BENCH_DEDUP_N")
        .fold(DedupRehearsal.run(s, boilerplate = b))(DedupRehearsal.run(s, _, b))
    },
    // exact-collapse before LSH, so the clique never materializes its
    // C(B,2) pairs: the direct-vs-collapsed ratio is tracked per round
    repeated("t_dedup200k_skew_collapsed", "SPARK_GRAFT_BENCH_DEDUP") { (s, z) =>
      val b = z.long("SPARK_GRAFT_BENCH_DEDUP_BOILER").getOrElse(SkewBoilerplate)
      z.long("SPARK_GRAFT_BENCH_DEDUP_N")
        .fold(DedupRehearsal.runCollapsed(s, boilerplate = b))(DedupRehearsal.runCollapsed(s, _, b))
    },
    // IO/shuffle-bound host control: fixed shuffle + parquet round trip
    // with an exact content check, placed inside the IO-heavy window so
    // a hot host band hits it too
    repeated("x_ioshuffle4m", "SPARK_GRAFT_BENCH_IOCTL")((s, z) =>
      z.long("SPARK_GRAFT_BENCH_IOCTL_N").fold(IoControlRehearsal.run(s))(IoControlRehearsal.run(s, _))),
    // 200k pages as 64 per-record-gzip WARC archives, then scan → HTTP
    // split → HTML extract → line-dedup → exact dedup; the fixture
    // write and the read path report as separate phases
    Rehearsal("t_crawl200k", medianed = true, "SPARK_GRAFT_BENCH_CRAWL", Seq("write", "read"),
      { (s, z) =>
        val (w, r) = z.long("SPARK_GRAFT_BENCH_CRAWL_N")
          .fold(CrawlRehearsal.runPhases(s))(CrawlRehearsal.runPhases(s, _))
        Seq(w, r)
      }),
    // 1M perceptual hashes through collapsed dupClusters: planted
    // families recovered, an identical-hash clique collapsed to one
    repeated("m_imgdedup1m", "SPARK_GRAFT_BENCH_IMGDEDUP")((s, z) =>
      z.long("SPARK_GRAFT_BENCH_IMGDEDUP_N").fold(ImgDedupRehearsal.run(s))(ImgDedupRehearsal.run(s, _))),
    // 200k docs screened against a 1k benchmark: the bloom semi-join
    // arms (asserted), planted quotes recovered exactly
    once("t_decon200k", "SPARK_GRAFT_BENCH_DECON")((s, z) =>
      z.long("SPARK_GRAFT_BENCH_DECON_N").fold(DeconRehearsal.run(s))(DeconRehearsal.run(s, _))),
    // 4096² supercritical mask, one giant component: distributed CCL
    // checked exactly against a single-node union-find (CPU control)
    once("i_ccl16m", "SPARK_GRAFT_BENCH_CCL")((s, z) =>
      z.int("SPARK_GRAFT_BENCH_CCL_SIDE").fold(CclRehearsal.run(s))(CclRehearsal.run(s, _))),
    // banded two-exchange separable EDT, checked exactly (CPU control)
    once("i_edt16m", "SPARK_GRAFT_BENCH_EDT")((s, z) =>
      z.int("SPARK_GRAFT_BENCH_EDT_SIDE").fold(EdtRehearsal.run(s))(EdtRehearsal.run(s, _))),
    // complement-CCL hole filling, checked against a border flood fill
    once("i_fill16m", "SPARK_GRAFT_BENCH_FILL")((s, z) =>
      z.int("SPARK_GRAFT_BENCH_FILL_SIDE").fold(FillRehearsal.run(s))(FillRehearsal.run(s, _))),
    // 1M-vertex graph + planted community peeled at k=12, checked
    // against a sequential peel
    once("g_kcore1m", "SPARK_GRAFT_BENCH_KCORE")((s, z) =>
      z.long("SPARK_GRAFT_BENCH_KCORE_N").fold(KcoreRehearsal.run(s))(KcoreRehearsal.run(s, _))),
    // 1M clustered vectors through the IVF cascade, recall-checked
    // against brute force; 12–104 s host envelope, so medianed
    repeated("s_ann1m", "SPARK_GRAFT_BENCH_ANN")((s, z) =>
      z.long("SPARK_GRAFT_BENCH_ANN_N").fold(AnnRehearsal.run(s))(AnnRehearsal.run(s, _))),
    // 1000 BPE merges over a 200k-doc corpus, head-pinned against the
    // distributed trainer (CPU control)
    once("t_bpe200k", "SPARK_GRAFT_BENCH_BPE") { (s, z) =>
      (z.long("SPARK_GRAFT_BENCH_BPE_N"), z.int("SPARK_GRAFT_BENCH_BPE_MERGES")) match {
        case (Some(n), Some(m)) => BpeRehearsal.run(s, n, m)
        case (Some(n), None) => BpeRehearsal.run(s, n)
        case (None, Some(m)) => BpeRehearsal.run(s, nMerges = m)
        case (None, None) => BpeRehearsal.run(s)
      }
    },
    // 384 wells × 9 fields through the streaming merge-upsert under a
    // planted arrival shuffle and replays; IO-heavy, so medianed
    repeated("h_plate384", "SPARK_GRAFT_BENCH_HCS")((s, _) => HcsRehearsal.run(s)),
    // 1M vectors at d=256: partition-local Gram + pcaWhiten, planted
    // correlations recovered, whitened output re-measured as identity
    once("s_cov1m", "SPARK_GRAFT_BENCH_COV") { (s, z) =>
      (z.long("SPARK_GRAFT_BENCH_COV_N"), z.int("SPARK_GRAFT_BENCH_COV_DIM")) match {
        case (Some(n), Some(d)) => CovRehearsal.run(s, n, d)
        case (Some(n), None) => CovRehearsal.run(s, n)
        case (None, Some(d)) => CovRehearsal.run(s, dim = d)
        case (None, None) => CovRehearsal.run(s)
      }
    },
    // 256 slices cycling all six lossless DICOM transfer syntaxes,
    // read back through the two-pass series design, exact checksum
    once("i_dicom256", "SPARK_GRAFT_BENCH_DICOM")((s, z) =>
      z.int("SPARK_GRAFT_BENCH_DICOM_N").fold(DicomRehearsal.run(s))(DicomRehearsal.run(s, _))))

  def keys: Seq[String] = all.map(_.key)

  def apply(key: String): Rehearsal = all.find(_.key == key).getOrElse(
    throw new IllegalArgumentException(
      s"unknown rehearsal '$key'; known keys: ${keys.mkString(", ")}"))
}
