package graft.perfbench

import java.nio.ByteBuffer
import java.nio.file.Path

import scala.collection.mutable

import org.apache.avro.{Schema => ASchema, SchemaBuilder}

/** What the lake must produce, computed while generating it (no
  * program code involved): the three `cms_daily` output checks. */
final case class CmsTruth(
    tierEvents: Map[String, Long],
    datasetReplicaBytes: Map[String, Long],
    datasetAccesses: Map[String, Long])

final case class CmsLakeData(tables: Map[String, Table], truth: CmsTruth)

/** Seeded CMS data lake in the reference's dump formats: DBS, PhEDEx
  * and ASO as headerless CSV with the `null` literal; Rucio and
  * JobMonitoring as Avro container files, `parts` files per table; the
  * MONIT streams (HTCondor, CMSSW, AAA, EOS, FTS, WMArchive) as JSON
  * lines in their `data`/`metadata` envelopes.
  *
  * Shapes follow the fixture rules of FIXTURES.md §B.5: DBS join keys
  * close; Rucio carries orphan replicas and unavailable ones; PhEDEx
  * holds blocks of datasets that DBS does not know; `ACCESSED_AT` and
  * `RequestCpus` have NULLs; HTCondor re-sends some `GlobalJobId`s.
  * Dataset and site keys are Zipf(1.1)-skewed. At `scale = 1` the
  * fact tables (files, replicas, contents, access streams) hold 2-8 MB
  * each and the dimension tables under 0.3 MB each. */
object CmsLake {

  val Tiers: IndexedSeq[String] = IndexedSeq("AOD", "MINIAOD", "NANOAOD",
    "RAW", "RECO", "GEN-SIM", "USER", "ALCARECO")
  val AccessTypes: IndexedSeq[String] =
    IndexedSeq("VALID", "INVALID", "PRODUCTION", "DEPRECATED")

  private val T1 = Seq("T1_US_FNAL", "T1_DE_KIT", "T1_FR_CCIN2P3",
    "T1_IT_CNAF", "T1_ES_PIC", "T1_UK_RAL", "T1_RU_JINR")
  private val T2 = Seq("T2_US_MIT", "T2_US_Nebraska", "T2_US_Purdue",
    "T2_US_Wisconsin", "T2_US_Caltech", "T2_US_Florida", "T2_US_UCSD",
    "T2_US_Vanderbilt", "T2_CH_CERN", "T2_DE_DESY", "T2_DE_RWTH",
    "T2_FR_GRIF", "T2_IT_Bari", "T2_IT_Pisa", "T2_IT_Legnaro",
    "T2_IT_Rome", "T2_UK_London_IC", "T2_UK_SGrid_RALPP",
    "T2_ES_CIEMAT", "T2_BE_IIHE", "T2_BR_SPRACE", "T2_CN_Beijing",
    "T2_KR_KISTI", "T2_PL_Swierk", "T2_RU_IHEP", "T2_TR_METU",
    "T2_EE_Estonia", "T2_FI_HIP", "T2_HU_Budapest", "T2_IN_TIFR")
  private val T3 = Seq("T3_US_NERSC", "T3_US_ANL", "T3_US_OSG",
    "T3_US_PSC", "T3_US_SDSC", "T3_US_TACC", "T3_IT_Trieste",
    "T3_CC_Lab")
  /** Compute sites (HTCondor, access streams), busiest first. */
  val Sites: IndexedSeq[String] =
    (Seq("T0_CH_CERN") ++ T1 ++ T2 ++ T3).toIndexedSeq
  /** PhEDEx nodes, with the tape/buffer/export endpoints the snapshot
    * jobs filter out. */
  val Nodes: IndexedSeq[String] = (Seq("T0_CH_CERN_Export",
    "T0_CH_CERN_MSS") ++ T1.flatMap(s => Seq(s + "_Disk", s + "_MSS",
    s + "_Buffer")) ++ T2 ++ T3).toIndexedSeq
  /** Rucio storage elements, including temp/test ones. */
  val Rses: IndexedSeq[String] = (T1.flatMap(s => Seq(s + "_Disk",
    s + "_Tape")) ++ T2 ++ Seq("T2_US_MIT_Temp", "T2_CH_CERN_Test",
    "T3_US_NERSC", "T3_US_OSG_Temp")).toIndexedSeq

  private val Day0Ms = 1704067200000L // 2024-01-01T00:00:00Z
  private val DayMs = 86400000L

  private def dn(u: Int) =
    s"/DC=ch/DC=cern/OU=Organic Units/OU=Users/CN=user$u/CN=${100000 + u}/CN=User Name$u"

  private def record(name: String)(fields: (String, ASchema)*): ASchema = {
    val fa = SchemaBuilder.record(name).namespace("perfbench").fields()
    fields.foldLeft(fa) { case (a, (n, t)) =>
      a.name(n).`type`(t).noDefault()
    }.endRecord()
  }
  private val sStr = SchemaBuilder.builder().stringType()
  private val sLong = SchemaBuilder.builder().longType()
  private val sInt = SchemaBuilder.builder().intType()
  private val sBytes = SchemaBuilder.builder().bytesType()
  private val sOptLong = SchemaBuilder.unionOf().nullType().and().longType()
    .endUnion()

  def generate(dir: Path, seed: Long, scale: Double, parts: Int)
      : CmsLakeData = {
    val root = new Rng(seed)
    def n(base: Int) = math.max(8, (base * scale).round.toInt)
    val nDatasets = n(2000)
    val nBlocks = n(8000)
    val nFiles = n(30000)
    val tables = mutable.LinkedHashMap[String, Table]()
    def put(t: Table): Unit = tables(t.name) = t
    def csv(name: String, sub: String, p: Int = parts) =
      new LineParts(dir.resolve(sub), name, "csv", p)
    def json(name: String, sub: String) =
      new LineParts(dir.resolve(sub), name, "json", parts)

    // ---- DBS dimensions ----
    val acqEras = (0 until 20).map(i => s"Run${2016 + i / 4}${"ABCD" (i % 4)}")
    locally {
      val w = csv("access_types", "dbs/access_types", 1)
      AccessTypes.zipWithIndex.foreach { case (t, i) => w.line(Csv.row(i + 1, t)) }
      put(w.close("csv"))
      val a = csv("acq_eras", "dbs/acq_eras", 1)
      acqEras.zipWithIndex.foreach { case (e, i) =>
        a.line(Csv.row(i + 1, e, 20160101 + i, None, 1450000000 + i,
          "cmsprod", s"era $e"))
      }
      put(a.close("csv"))
      val p = csv("proc_eras", "dbs/proc_eras", 1)
      (1 to 10).foreach(i => p.line(Csv.row(i, i.toDouble, 1450000000 + i,
        "cmsprod", None)))
      put(p.close("csv"))
      val r = csv("rel_versions", "dbs/rel_versions", 1)
      (1 to 30).foreach(i => r.line(Csv.row(i,
        s"CMSSW_${10 + i / 6}_${i % 6}_${i % 4}")))
      put(r.close("csv"))
      val o = csv("out_configs", "dbs/out_configs", 1)
      (1 to 100).foreach(i => o.line(Csv.row(i, i, 1 + i % 30, i,
        "RECOoutput", s"GT_$i", "pp", 1450000000 + i, "cmsprod")))
      put(o.close("csv"))
    }

    // ---- DATASETS ----
    val dsRng = root.fork(1)
    val dsName = new Array[String](nDatasets)
    val dsTier = new Array[String](nDatasets)
    locally {
      val w = csv("datasets", "dbs/datasets")
      val m = csv("mod_configs", "dbs/mod_configs", 1)
      for (d <- 0 until nDatasets) {
        val tier = Tiers(dsRng.int(Tiers.size))
        val era = 1 + dsRng.int(acqEras.size)
        val name = s"/Prim${d % 400}/${acqEras(era - 1)}-Proc$d-v${1 + dsRng.int(3)}/$tier"
        dsName(d) = name; dsTier(d) = tier
        val access = if (dsRng.chance(0.85)) 1 else 2 + dsRng.int(3)
        val created = 1.45e9 + dsRng.int(200000000)
        w.line(Csv.row(d + 1, name, if (dsRng.chance(0.95)) 1 else 0,
          d % 400 + 1, d + 1, Tiers.indexOf(tier) + 1, access, era,
          1 + dsRng.int(10), 1 + dsRng.int(30), None, s"PREP-$d", created,
          "cmsprod", created + 86400.0, "cmsprod"))
        m.line(Csv.row(d + 1, d + 1, 1 + dsRng.int(100)))
      }
      put(w.close("csv")); put(m.close("csv"))
    }

    // ---- BLOCKS (Zipf over datasets) ----
    val bRng = root.fork(2)
    val dsZipf = new Zipf(nDatasets, 1.1)
    val blockDs = new Array[Int](nBlocks)
    val blockName = new Array[String](nBlocks)
    locally {
      val w = csv("blocks", "dbs/blocks")
      for (b <- 0 until nBlocks) {
        val d = dsZipf.sample(bRng)
        blockDs(b) = d
        blockName(b) = s"${dsName(d)}#${bRng.hex(8)}-${bRng.hex(4)}-$b"
        w.line(Csv.row(b + 1, blockName(b), d + 1, bRng.int(2),
          Sites(bRng.int(Sites.size)), (1e9 * (1 + bRng.int(50))).toDouble,
          5, 1.5e9 + bRng.int(10000000), "cmsprod", 1.5e9, "cmsprod"))
      }
      put(w.close("csv"))
    }

    // ---- FILES + FILE_LUMIS ----
    val fRng = root.fork(3)
    val fileBlock = new Array[Int](nFiles)
    val fileLfn = new Array[String](nFiles)
    val fileSize = new Array[Long](nFiles)
    val tierEvents = mutable.Map[String, Long]().withDefaultValue(0L)
    val dsFiles = Array.fill(nDatasets)(mutable.ArrayBuffer[Int]())
    locally {
      val w = csv("files", "dbs/files")
      val l = csv("file_lumis", "dbs/file_lumis")
      for (f <- 0 until nFiles) {
        val b = f % nBlocks
        val d = blockDs(b)
        fileBlock(f) = b
        dsFiles(d) += f
        val lfn = s"/store/data/${acqEras(f % 20)}/Prim${d % 400}/${dsTier(d)}/${f / 1000}/${fRng.hex(8)}-$f.root"
        fileLfn(f) = lfn
        val events = 100L + fRng.int(50000)
        val size = events * (20000L + fRng.int(20000))
        fileSize(f) = size
        tierEvents(dsTier(d)) += events
        w.line(Csv.row(f + 1, lfn, 1, d + 1, b + 1, 1, fRng.int(1 << 30),
          events, size, None, fRng.hex(8), None, None,
          1.5e9 + fRng.int(100000000), "/DC=ch/DC=cern/CN=cmsprod", 1.6e9,
          "/DC=ch/DC=cern/CN=cmsprod"))
        val nl = fRng.int(5)
        var k = 0
        while (k < nl) {
          l.line(Csv.row(300000 + f % 5000, s"${1 + fRng.int(3000)}", f + 1))
          k += 1
        }
      }
      put(w.close("csv")); put(l.close("csv"))
    }
    val nonEmpty = (0 until nDatasets).filter(d => dsFiles(d).nonEmpty)
    val dsPick = new Zipf(nonEmpty.size, 1.1)
    /** A DBS file, Zipf-skewed by dataset. */
    def pickFile(r: Rng): Int = {
      val fs = dsFiles(nonEmpty(dsPick.sample(r)))
      fs(r.int(fs.size))
    }
    val siteZipf = new Zipf(Sites.size, 1.1)

    // ---- PhEDEx block replicas (+ datasets DBS does not know) ----
    locally {
      val r = root.fork(4)
      val nodeZipf = new Zipf(Nodes.size, 1.1)
      val w = csv("phedex", "phedex")
      val now = 1.7045e9
      def rep(ds: String, dsId: Int, block: String, bId: Int,
          bytes: Long): Unit = {
        val nr = 1 + r.int(3)
        val seen = mutable.Set[Int]()
        for (_ <- 0 until nr) {
          val node = nodeZipf.sample(r)
          if (seen.add(node))
            w.line(Csv.row(now, ds, dsId, if (r.chance(0.2)) "y" else "n",
              1.45e9, 1.5e9, block, bId, 5, bytes, "n", 1.5e9, 1.6e9,
              Nodes(node), node + 1, "y", 0, 0, 5, bytes, 5, bytes, 0, 0,
              "n", if (r.chance(0.1)) None else Some(1 + r.int(20)),
              1.5e9 + r.int(100000000), 1.6e9))
        }
      }
      for (b <- 0 until nBlocks) {
        val d = blockDs(b)
        rep(dsName(d), d + 1, blockName(b), b + 1,
          1000000000L + r.int(1000000000))
      }
      for (g <- 0 until nBlocks / 20) {
        val ds = s"/Ghost${g % 50}/Legacy-Proc$g-v1/${Tiers(g % Tiers.size)}"
        rep(ds, 1000000 + g, s"$ds#ghost-$g", 1000000 + g,
          500000000L + r.int(1000000000))
      }
      put(w.close("csv"))
    }

    // ---- Rucio dumps (Avro) ----
    val replicaBytes = mutable.Map[String, Long]().withDefaultValue(0L)
    locally {
      val r = root.fork(5)
      val rseIds = Rses.indices.map(_ => r.bytes(16))
      val rses = new AvroParts(dir.resolve("rucio/rses"), "rses",
        record("RSES")("ID" -> sBytes, "RSE" -> sStr, "RSE_TYPE" -> sStr,
          "DELETED_AT" -> sOptLong), parts, r.fork(1))
      Rses.indices.foreach { i =>
        rses.row("ID" -> ByteBuffer.wrap(rseIds(i)), "RSE" -> Rses(i),
          "RSE_TYPE" -> (if (Rses(i).endsWith("_Tape")) "TAPE" else "DISK"),
          "DELETED_AT" -> (if (i % 17 == 16) Day0Ms - 90 * DayMs else null))
      }
      put(rses.close())
      val repSchema = record("REPLICAS")("NAME" -> sStr, "RSE_ID" -> sBytes,
        "BYTES" -> sLong, "STATE" -> sStr, "SCOPE" -> sStr,
        "ACCESSED_AT" -> sOptLong, "CREATED_AT" -> sLong, "LOCK_CNT" -> sLong)
      val reps = new AvroParts(dir.resolve("rucio/replicas"), "replicas",
        repSchema, parts, r.fork(2))
      val rseZipf = new Zipf(Rses.size, 1.1)
      def replica(name: String, rse: Int, bytes: Long, state: String): Unit =
        reps.row("NAME" -> name, "RSE_ID" -> ByteBuffer.wrap(rseIds(rse)),
          "BYTES" -> bytes, "STATE" -> state, "SCOPE" -> "cms",
          "ACCESSED_AT" -> (if (r.chance(0.3)) null
            else Day0Ms - r.between(0, 400) * DayMs),
          "CREATED_AT" -> (Day0Ms - r.between(400, 800) * DayMs),
          "LOCK_CNT" -> r.between(0, 3))
      val dids = new AvroParts(dir.resolve("rucio/dids"), "dids",
        record("DIDS")("NAME" -> sStr, "SCOPE" -> sStr, "DID_TYPE" -> sStr,
          "HIDDEN" -> sInt, "DELETED_AT" -> sOptLong, "BYTES" -> sOptLong,
          "ACCESSED_AT" -> sOptLong, "CREATED_AT" -> sLong), parts, r.fork(3))
      val contents = new AvroParts(dir.resolve("rucio/contents"), "contents",
        record("CONTENTS")("SCOPE" -> sStr, "NAME" -> sStr,
          "CHILD_NAME" -> sStr, "DID_TYPE" -> sStr, "CHILD_TYPE" -> sStr),
        parts, r.fork(4))
      for (f <- 0 until nFiles) {
        val u = r.double()
        val nAvail = if (u < 0.1) 0 else if (u < 0.6) 1 else if (u < 0.9) 2 else 3
        val used = mutable.Set[Int]()
        while (used.size < nAvail) {
          val rse = rseZipf.sample(r)
          if (used.add(rse)) replica(fileLfn(f), rse, fileSize(f), "A")
        }
        if (r.chance(0.05)) {
          val rse = rseZipf.sample(r)
          if (!used.contains(rse)) replica(fileLfn(f), rse, fileSize(f), "U")
        }
        // the file map takes replica bytes when any replica is
        // available, else the DID's own bytes
        replicaBytes(dsName(blockDs(fileBlock(f)))) +=
          fileSize(f) * math.max(1, nAvail)
        dids.row("NAME" -> fileLfn(f), "SCOPE" -> "cms", "DID_TYPE" -> "F",
          "HIDDEN" -> 0, "DELETED_AT" -> null, "BYTES" -> fileSize(f),
          "ACCESSED_AT" -> (if (r.chance(0.4)) null
            else Day0Ms - r.between(0, 500) * DayMs),
          "CREATED_AT" -> (Day0Ms - r.between(500, 900) * DayMs))
        contents.row("SCOPE" -> "cms", "NAME" -> blockName(fileBlock(f)),
          "CHILD_NAME" -> fileLfn(f), "DID_TYPE" -> "D", "CHILD_TYPE" -> "F")
      }
      for (o <- 0 until nFiles / 30)
        replica(s"/store/unmerged/orphan/${r.hex(12)}-$o.root",
          rseZipf.sample(r), 1000000L + r.int(100000000), "A")
      for (b <- 0 until nBlocks)
        contents.row("SCOPE" -> "cms", "NAME" -> dsName(blockDs(b)),
          "CHILD_NAME" -> blockName(b), "DID_TYPE" -> "C", "CHILD_TYPE" -> "D")
      put(reps.close()); put(dids.close()); put(contents.close())
    }

    // ---- HTCondor job monitoring (MONIT JSON) ----
    locally {
      val r = root.fork(6)
      val w = json("condor", "monit/condor")
      val nJobs = n(10000)
      val userZipf = new Zipf(600, 1.1)
      var prevId = ""
      for (j <- 0 until nJobs) {
        // re-sends: a record repeats the previous job id
        val gid = if (j > 0 && r.chance(0.05)) prevId
          else s"crab3@vocms0${r.int(200)}.cern.ch#${r.int(9999999)}.0#${1600000000 + j}"
        prevId = gid
        val u = r.double()
        val status = if (u < 0.6) "Completed" else if (u < 0.9) "Running" else "Removed"
        val site = Sites(siteZipf.sample(r))
        val analysis = r.chance(0.5)
        val wall = 0.1 + r.double() * 20
        val cores = 1 + r.int(8)
        val cpu = wall * cores * (0.2 + 0.8 * r.double())
        val block = blockName(r.int(nBlocks))
        val t = Day0Ms + r.between(0, 30 * DayMs)
        w.line(Json.Obj(
          "data" -> Json.Obj(
            "GlobalJobId" -> gid, "RecordTime" -> t, "Status" -> status,
            "Site" -> site, "Tier" -> site.take(2),
            "Type" -> (if (analysis) "analysis" else "production"),
            "JobFailed" -> (if (r.chance(0.1)) 1 else 0),
            "WallClockHr" -> wall, "CpuTimeHr" -> cpu,
            "CoreHr" -> wall * cores, "CpuEff" -> 100 * cpu / (wall * cores),
            "RequestCpus" -> (if (r.chance(0.1)) None else Some(cores.toDouble)),
            "CRAB_UserHN" -> (if (analysis) Some(s"user${userZipf.sample(r)}") else None),
            "CRAB_Workflow" -> s"240101_000000:user_crab_wf${r.int(5000)}",
            "CRAB_DataBlock" -> block,
            "CMSPrimaryPrimaryDataset" -> block.split('/')(1),
            "Workflow" -> s"wf_${r.int(3000)}",
            "WMAgent_RequestName" -> s"req_${r.int(3000)}",
            "ScheddName" -> s"vocms0${r.int(200)}.cern.ch",
            "WMAgent_JobID" -> s"${r.int(1000000)}",
            "MachineAttrCMSSubSiteName0" ->
              (if (site == "T3_US_NERSC" && r.chance(0.5)) Some("Cori") else None),
            "ExitCode" -> (if (r.chance(0.9)) 0 else 8000 + r.int(100)),
            "CpuEffOutlier" -> (if (r.chance(0.02)) 1 else 0),
            "DESIRED_CMSDataset" -> block.takeWhile(_ != '#'),
            "ChirpCMSSWReadBytes" -> r.between(0, 10000000000L)),
          "metadata" -> Json.Obj("timestamp" -> (t + 60000))).render)
      }
      put(w.close("json"))
    }

    // ---- WMArchive framework job reports (JSON) ----
    locally {
      val r = root.fork(7)
      val w = json("fwjr", "monit/wmarchive")
      for (j <- 0 until n(5000)) {
        val site = Sites(siteZipf.sample(r))
        def perf(threads: Int) = Json.Obj("cpu" -> Json.Obj(
          "NumberOfStreams" -> threads.toDouble,
          "NumberOfThreads" -> threads.toDouble,
          "TotalJobCPU" -> (100.0 + r.int(50000)),
          "TotalJobTime" -> (100.0 + r.int(20000)),
          "TotalEventCPU" -> (50.0 + r.int(40000)),
          "EventThroughput" -> r.double()))
        val steps = (1 to 1 + r.int(3)).map(s => Json.Obj(
          "name" -> s"cmsRun$s", "site" -> site,
          "performance" -> perf(1 << r.int(4)))) :+
          Json.Obj("name" -> "logArch1", "site" -> site,
            "performance" -> Json.Obj("cpu" -> Json.Obj()))
        val ts = (Day0Ms / 1000) + r.between(0, 30 * 86400)
        w.line(Json.Obj(
          "wmaid" -> (if (j > 0 && r.chance(0.03)) s"wma-${j - 1}" else s"wma-$j"),
          "wmats" -> ts,
          "task" -> s"/pdmvserv_task_${r.int(800)}/StepOne",
          "meta_data" -> Json.Obj("host" -> s"vocms0${r.int(300)}.cern.ch",
            "ts" -> ts, "jobstate" -> (if (r.chance(0.9)) "success" else "jobfailed"),
            "jobtype" -> "Processing", "fwjr_id" -> s"${j}-0"),
          "steps" -> steps).render)
      }
      put(w.close("json"))
    }

    // ---- FTS transfers (JSON) + ASO bookkeeping (CSV) ----
    locally {
      val r = root.fork(8)
      val fts = json("fts", "monit/fts")
      val aso = csv("aso", "aso")
      for (t <- 0 until n(9000)) {
        val user = s"user${r.int(400)}"
        val file = s"output_${t}_${r.hex(6)}.root"
        val jobId = s"${r.hex(8)}-${r.hex(4)}-$t"
        val start = Day0Ms + r.between(0, 30 * DayMs)
        val done = start + r.between(1000, 3600000)
        val state = if (r.chance(0.85)) "FINISHED" else "FAILED"
        fts.line(Json.Obj("data" -> Json.Obj("job_id" -> jobId,
          "src_url" -> s"gsiftp://eoscmsftp.cern.ch//eos/cms/store/temp/user/$user/$file",
          "f_size" -> r.between(1000000, 4000000000L),
          "t_final_transfer_state" -> state,
          "tr_timestamp_start" -> start, "tr_timestamp_complete" -> done,
          "job_metadata" -> Json.Obj("issuer" -> (if (r.chance(0.7)) "ASO" else "rucio"))))
          .render)
        if (r.chance(0.6))
          aso.line(Csv.row(s"tm-$t", user, s"240101:$user:crab_task_${t % 900}",
            "T2_US_MIT", s"/store/user/$user/$file", "T2_CH_CERN",
            s"/store/temp/user/$user/$file", (1e6 + r.int(1 << 30)).toDouble,
            1.0, t % 5000, 0, "output", "aso1", 0, 3, 0, 3, "cmsweb.cern.ch",
            "/crabserver/prod", if (state == "FINISHED") 3 else 2, 0, None,
            None, jobId, "fts3.cern.ch", start / 1000.0, start / 1000.0,
            done / 1000.0))
      }
      put(fts.close("json")); put(aso.close("csv"))
    }

    // ---- Popularity access streams: CMSSW, AAA, EOS (JSON), JM (Avro) ----
    val accesses = mutable.Map[String, Long]().withDefaultValue(0L)
    locally {
      val r = root.fork(9)
      val userZipf = new Zipf(2000, 1.1)
      /** A DBS LFN, or (one in ten) one that DBS does not know. */
      def lfn(): (String, Int) =
        if (r.chance(0.1)) (s"/store/user/scratch/${r.hex(10)}.root", -1)
        else { val f = pickFile(r); (fileLfn(f), f) }
      def t() = Day0Ms + r.between(0, DayMs)

      val cmssw = json("cmssw", "monit/cmssw")
      for (_ <- 0 until n(6000)) {
        val (name, f) = lfn()
        val ts = t()
        cmssw.line(Json.Obj("data" -> Json.Obj(
          "app_info" -> (if (r.chance(0.5)) "" else s"crab3:task_${r.int(999)}"),
          "site_name" -> Sites(siteZipf.sample(r)), "file_lfn" -> name,
          "file_size" -> (if (f >= 0) fileSize(f) else 1000L),
          "read_bytes" -> r.between(0, 1000000000L),
          "read_bytes_at_close" -> r.between(0, 1000000000L),
          "start_time" -> ts / 1000, "end_time" -> (ts / 1000 + r.int(7200)),
          "user_dn" -> dn(userZipf.sample(r)), "fallback" -> r.chance(0.1),
          "unique_id" -> r.hex(16), "client_host" -> s"wn${r.int(9000)}",
          "client_domain" -> "cern.ch", "server_host" -> s"xrd${r.int(90)}",
          "server_domain" -> "fnal.gov"),
          "metadata" -> Json.Obj("timestamp" -> ts)).render)
      }
      put(cmssw.close("json"))

      val aaa = json("aaa", "monit/aaa")
      for (_ <- 0 until n(9000)) {
        val (name, f) = lfn()
        if (f >= 0) accesses(dsName(blockDs(fileBlock(f)))) += 1
        val ts = t()
        aaa.line(Json.Obj("data" -> Json.Obj(
          "activity" -> "r", "app_info" -> "", "client_domain" -> "cern.ch",
          "client_host" -> s"wn${r.int(9000)}", "end_time" -> (ts + 60000),
          "file_lfn" -> name, "file_size" -> (if (f >= 0) fileSize(f) else 1000L),
          "is_transfer" -> false, "operation_time" -> r.int(3600),
          "read_bytes" -> r.between(0, 1000000000L),
          "read_bytes_at_close" -> r.between(0, 1000000000L),
          "remote_access" -> r.chance(0.3), "server_domain" -> "fnal.gov",
          "server_host" -> s"xrd${r.int(90)}", "start_time" -> ts,
          "throughput" -> r.double() * 100, "unique_id" -> r.hex(16),
          "user_dn" -> dn(userZipf.sample(r)), "vo" -> "cms"),
          "metadata" -> Json.Obj("timestamp" -> ts)).render)
      }
      put(aaa.close("json"))

      val eos = json("eos", "monit/eos")
      for (_ <- 0 until n(7000)) {
        val (name, _) = lfn()
        val ts = t()
        val u = userZipf.sample(r)
        val kv = Seq(s"path=$name", s"sec.name=user$u", s"sec.info=${dn(u)}",
          s"sec.app=${if (r.chance(0.5)) "cmssw" else "xrdcp"}",
          s"td=${r.hex(8)}.1:1@lxplus", s"rb=${r.between(0, 1000000000L)}",
          s"rb_max=${r.int(1000000)}", "wb=0", s"rt=${r.int(10000)}.5",
          "wt=0.0", s"cts=${ts / 1000}", s"csize=${r.int(1000000000)}")
        eos.line(Json.Obj("data" -> kv.mkString("&"),
          "metadata" -> Json.Obj("timestamp" -> ts)).render)
      }
      put(eos.close("json"))

      val jmFields = Seq("JobId", "FileName", "IsParentFile", "ProtocolUsed",
        "SuccessFlag", "FileType", "BlockName", "Application",
        "ApplicationVersion", "Type", "SubmissionTool", "InputSE",
        "SiteName", "SchedulerName", "TaskMonitorId", "JobExecExitCode",
        "WrapWC", "WrapCPU", "ExeCPU", "NCores", "NEvProc", "NEvReq",
        "WNHostName", "JobType", "UserId", "GridName")
      val jmSchema = record("JobMonitoring")(
        (jmFields.map(_ -> sStr) ++ Seq("JobExecExitTimeStamp" -> sLong,
          "StartedRunningTimeStamp" -> sLong,
          "FinishedTimeStamp" -> sLong)): _*)
      val jm = new AvroParts(dir.resolve("jm"), "jm", jmSchema, parts,
        r.fork(1))
      for (j <- 0 until n(5000)) {
        val (name, _) = lfn()
        val ts = t()
        val u = userZipf.sample(r)
        val vals = Seq(s"$j", name, "0", "xrootd", "1", "EDM", s"block$j",
          "cmsRun", "CMSSW_12_4_0", "analysis",
          if (r.chance(0.7)) "crab3" else "wmagent", "T2_US_MIT_Disk",
          Sites(siteZipf.sample(r)), "condor", s"task_${r.int(999)}",
          if (r.chance(0.9)) "0" else "8001",
          s"${r.int(36000)}", s"${r.int(36000)}", s"${r.int(30000)}",
          s"${1 + r.int(8)}", s"${r.int(100000)}", s"${r.int(100000)}",
          s"wn${r.int(9000)}", "analysis", s"$u", dn(u))
        jm.row((jmFields.zip(vals) ++ Seq("JobExecExitTimeStamp" -> ts,
          "StartedRunningTimeStamp" -> (ts - 3600000),
          "FinishedTimeStamp" -> ts)): _*)
      }
      put(jm.close())
    }

    CmsLakeData(tables.toMap, CmsTruth(tierEvents.toMap,
      replicaBytes.toMap, accesses.toMap))
  }
}
