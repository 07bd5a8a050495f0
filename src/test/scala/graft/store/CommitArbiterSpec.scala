package graft.store

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The multi-writer contract on OBJECT-STORE storage: both
  * check-then-act commit points — [[WriteLock]]'s create-if-absent and
  * [[Manifest.commit]]'s version flip — go through the session's
  * [[CommitArbiter]]. On a [[RacyFileSystem]] (non-atomic create,
  * silently-replacing rename — the object-store model) this spec proves
  * (1) the hazard is real under the default `atomic` arbiter, and
  * (2) the `conditional` arbiter restores exactly-one-winner: one lock
  * holder, one manifest per version, zero lost commits. */
class CommitArbiterSpec extends SparkSpec {

  private lazy val wh: String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.racy.impl", classOf[RacyFileSystem].getName)
    val local = Files.createTempDirectory("graft-racy").toString
    s"racy://$local"
  }

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def conditional[A](body: => A): A = {
    spark.conf.set(CommitArbiter.Conf, "conditional")
    try body finally spark.conf.unset(CommitArbiter.Conf)
  }

  private def readBytes(path: Path): String = {
    val f = fsOf(path.toString)
    val in = f.open(path)
    try {
      val b = new Array[Byte](f.getFileStatus(path).getLen.toInt)
      in.readFully(b)
      new String(b, "UTF-8")
    } finally in.close()
  }

  test("the hazard is real: on a racy filesystem the default arbiter's " +
       "put-if-absent lets a second writer silently replace the first") {
    val f = fsOf(wh)
    val p = new Path(s"$wh/hazard/commit.json")
    val arb = new FsAtomicArbiter
    assert(arb.putIfAbsent(f, p, "first".getBytes("UTF-8")))
    // second put SUCCEEDS: rename silently replaced — the lost commit
    assert(arb.putIfAbsent(f, p, "second".getBytes("UTF-8")))
    assert(readBytes(p) == "second")
    // the default arbiter flags real object-store schemes as advisory
    assert(CommitArbiter.NonAtomicSchemes.contains("s3a"))
  }

  test("conditional arbiter: 8 racing put-if-absent, exactly one winner, " +
       "winner's content intact") {
    val f = fsOf(wh)
    val p = new Path(s"$wh/race/commit.json")
    val arb = new ConditionalCreateArbiter(trusted = false)
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    val wins = new AtomicInteger(0)
    val winners = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    (0 until 8).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          if (arb.putIfAbsent(f, p, s"writer-$i".getBytes("UTF-8"))) {
            wins.incrementAndGet()
            winners.add(i)
          }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    assert(wins.get() == 1)
    val w = winners.iterator().next()
    assert(readBytes(p) == s"writer-$w")
  }

  test("arbiter conf: FQCN loads a custom arbiter class; bogus values " +
       "refuse loudly naming the conf") {
    spark.conf.set(CommitArbiter.Conf, classOf[FsAtomicArbiter].getName)
    try assert(CommitArbiter.resolve(spark).isInstanceOf[FsAtomicArbiter])
    finally spark.conf.unset(CommitArbiter.Conf)
    spark.conf.set(CommitArbiter.Conf, "no.such.Arbiter")
    try {
      val e = intercept[StoreException](CommitArbiter.resolve(spark))
      assert(e.getMessage.contains(CommitArbiter.Conf), e.getMessage)
    } finally spark.conf.unset(CommitArbiter.Conf)
    // default resolution
    assert(CommitArbiter.resolve(spark).name == "atomic")
  }

  test("conditional arbiter refuses progressive-visibility filesystems " +
       "(use 'atomic' there)") {
    val local = fsOf(s"file:///tmp")
    val e = intercept[StoreException] {
      new ConditionalCreateArbiter(trusted = false)
        .putIfAbsent(local, new Path("file:///tmp/never.json"), Array[Byte]())
    }
    assert(e.getMessage.contains("atomic"))
  }

  test("conditional arbiter VERIFIES the primitive: an object-store " +
       "connector that neither implements AtomicCommit nor advertises " +
       "the conditional-create capability is refused loudly, never " +
       "silently advisory") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cos.impl", classOf[UnverifiedObjectStoreFs].getName)
    val local = Files.createTempDirectory("graft-unverified").toString
    val f = fsOf(s"cos://$local")
    val arb = new ConditionalCreateArbiter(trusted = false)
    // the guard refuses BEFORE any create is attempted…
    val e = intercept[StoreException] {
      arb.putIfAbsent(f, new Path(s"cos://$local/commit.json"),
        "x".getBytes("UTF-8"))
    }
    assert(e.getMessage.contains(ConditionalCreateArbiter.CapabilityKey),
      e.getMessage)
    assert(e.getMessage.contains(CommitArbiter.TrustedConf), e.getMessage)
    assert(!f.exists(new Path(s"cos://$local/commit.json")))
    // …and atomicOn mirrors it: no hard-guarantee claim on an
    // unverifiable connector (the write lock would warn, not stay silent)
    assert(!arb.atomicOn(f))

    // a connector ADVERTISING the capability passes the guard (the
    // create below is RawLocal exists-then-create — fine single-threaded,
    // the point here is the gate, not the race)
    spark.sparkContext.hadoopConfiguration
      .set("fs.oss.impl", classOf[AdvertisingObjectStoreFs].getName)
    val g = fsOf(s"oss://$local")
    assert(arb.atomicOn(g))
    assert(arb.putIfAbsent(g, new Path(s"oss://$local/commit.json"),
      "y".getBytes("UTF-8")))
    assert(readBytes(new Path(s"oss://$local/commit.json")) == "y")

    // the explicit operator attestation also passes the guard, and
    // resolve() routes the conf to the trusted instance
    val trusted = new ConditionalCreateArbiter(trusted = true)
    assert(trusted.atomicOn(f))
    assert(trusted.putIfAbsent(f, new Path(s"cos://$local/commit2.json"),
      "z".getBytes("UTF-8")))
    spark.conf.set(CommitArbiter.Conf, "conditional")
    spark.conf.set(CommitArbiter.TrustedConf, "true")
    try assert(CommitArbiter.resolve(spark).atomicOn(f))
    finally {
      spark.conf.unset(CommitArbiter.Conf)
      spark.conf.unset(CommitArbiter.TrustedConf)
    }
    // an AtomicCommit filesystem needs no capability nor attestation
    assert(arb.atomicOn(fsOf(wh)))
  }

  test("write lock on a racy filesystem: ADVISORY under the default " +
       "arbiter (two writers both acquire), a HARD mutex under the " +
       "conditional arbiter") {
    val dir = s"$wh/tlock"
    fsOf(wh).mkdirs(new Path(dir))
    // default arbiter: the racy rename silently replaces the first
    // holder's lock file, so the second writer acquires WHILE the first
    // is still inside — the barrier proves both overlap in the critical
    // section at once
    val overlapped = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    val entered = new AtomicInteger(0)
    val fut = (0 until 2).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit =
          WriteLock.withLock(spark, dir, "racer") {
            entered.incrementAndGet()
            overlapped.await(20, TimeUnit.SECONDS) // both INSIDE at once
            ()
          }
      })
    }
    fut.foreach(_.get(30, TimeUnit.SECONDS))
    assert(entered.get() == 2) // the advisory hazard, reproduced

    // conditional arbiter: same race, exactly one may hold at a time
    conditional {
      fsOf(wh).delete(new Path(dir, WriteLock.FileName), false)
      val inside = new AtomicInteger(0)
      val maxInside = new AtomicInteger(0)
      val acquired = new AtomicInteger(0)
      val rejected = new AtomicInteger(0)
      val pool2 = Executors.newFixedThreadPool(8)
      val start = new CountDownLatch(1)
      (0 until 8).foreach { _ =>
        pool2.submit(new Runnable {
          def run(): Unit = {
            start.await()
            try WriteLock.withLock(spark, dir, "racer2") {
              val now = inside.incrementAndGet()
              maxInside.updateAndGet(m => math.max(m, now))
              acquired.incrementAndGet()
              Thread.sleep(5)
              inside.decrementAndGet(): Unit
            } catch {
              case e: StoreException
                  if e.getMessage.contains("write-locked") =>
                rejected.incrementAndGet(): Unit
            }
          }
        })
      }
      start.countDown()
      pool2.shutdown()
      assert(pool2.awaitTermination(60, TimeUnit.SECONDS))
      assert(maxInside.get() == 1) // never two holders
      assert(acquired.get() + rejected.get() == 8)
      assert(acquired.get() >= 1)
    }
  }

  test("manifest flip race under the conditional arbiter: exactly one " +
       "winner per version, the loser gets ConcurrentWriteException, " +
       "zero lost manifests") {
    conditional {
      val tdir = s"$wh/tflip"
      fsOf(wh).mkdirs(new Path(tdir))
      val mk = (tag: String) => Manifest(version = 0L, buckets = 4,
        files = Map(0 -> Seq(ManifestFile(s"f-$tag.parquet", 1L))))
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      Seq("a", "b").foreach { tag =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            try {
              Manifest.commit(spark, tdir, mk(tag))
              results.add(s"win-$tag")
            } catch {
              case _: ConcurrentWriteException => results.add(s"lose-$tag")
            }
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS))
      val rs = results.toArray(Array.empty[String]).toSeq
      assert(rs.count(_.startsWith("win-")) == 1, rs.toString)
      assert(rs.count(_.startsWith("lose-")) == 1, rs.toString)
      // the surviving v0 is the WINNER's, byte-complete and readable
      val winTag = rs.find(_.startsWith("win-")).get.stripPrefix("win-")
      val m = Manifest.at(spark, tdir, 0L)
      assert(m.files(0).head.name == s"f-$winTag.parquet")
    }
  }

  test("end-to-end on racy storage + conditional arbiter: two racing " +
       "optimistic appends both land, distinct versions, all rows live") {
    conditional {
      import spark.implicits._
      val t = "t_racy_e2e"
      KeyedTable.toSql(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), wh, t, pk = Seq("id"))
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      Seq(Seq((10L, "x"), (11L, "y")), Seq((20L, "p"), (21L, "q"))).foreach {
        rows =>
          pool.submit(new Runnable {
            def run(): Unit = {
              start.await()
              try KeyedTable.appendConcurrent(
                rows.toDF("id", "v"), wh, t): Unit
              catch { case e: Throwable => errs.add(e): Unit }
            }
          })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS))
      assert(errs.isEmpty, errs.toString)
      val got = KeyedTable.readSql(spark, wh, t)
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 2L, 10L, 11L, 20L, 21L))
      assert(Manifest.current(spark, s"$wh/$t").version == 2L)
    }
  }
}
