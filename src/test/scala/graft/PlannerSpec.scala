package graft

import org.scalatest.funsuite.AnyFunSuite

class PlannerSpec extends AnyFunSuite {

  test("fromSample: balanced buckets on uniform weights, deterministic") {
    val sample = Array.tabulate(10000)(i => (f"doc-$i%06d", 100L))
    val p1 = Planner.fromSample(sample, 16)
    val p2 = Planner.fromSample(sample.map(identity), 16)
    assert(p1.boundaries.sameElements(p2.boundaries))
    assert(p1.numParts == p2.numParts)
    assert(p1.numParts >= 14 && p1.numParts <= 18, p1.numParts)
    // every doc routes to a valid part; parts are monotone in doc_id when unsalted
    val parts = sample.map { case (id, _) => p1.partIdOf(id) }
    assert(parts.forall(p => p >= 0 && p < p1.numParts))
    assert(parts.toSeq == parts.toSeq.sorted, "range routing must be monotone")
  }

  test("no boundary splits a duplicated doc_id") {
    val sample = (Array.fill(5000)(("dup-key", 1000L)) ++
      Array.tabulate(100)(i => (f"z-$i%03d", 10L))).sortBy(_._1)
    val p = Planner.fromSample(sample, 8)
    // the heavy duplicated key gets salted instead of range-split
    val b = p.bucketOf("dup-key")
    assert(p.saltOf(b) > 1, s"expected salting, got ${p.saltOf.toSeq}")
    // same doc_id always routes to the same part (determinism)
    assert(p.partIdOf("dup-key") == p.partIdOf("dup-key"))
    assert(p.numParts == p.saltOf.sum)
  }

  test("skewed weights still yield roughly balanced parts") {
    // one source produces 100x heavier docs
    val sample = (Array.tabulate(2000)(i => (f"heavy-$i%05d", 10000L)) ++
      Array.tabulate(8000)(i => (f"light-$i%05d", 100L))).sortBy(_._1)
    val p = Planner.fromSample(sample, 16)
    val weightPerPart = new Array[Long](p.numParts)
    sample.foreach { case (id, w) => weightPerPart(p.partIdOf(id)) += w }
    val mx = weightPerPart.max.toDouble
    val avg = weightPerPart.sum.toDouble / p.numParts
    assert(mx / avg < 2.5, s"max/avg imbalance ${mx / avg}")
  }

  test("empty and tiny samples") {
    val p0 = Planner.fromSample(Array.empty, 8)
    assert(p0.numParts == 1 && p0.partIdOf("anything") == 0)
    val p1 = Planner.fromSample(Array(("a", 5L)), 8)
    assert(p1.partIdOf("a") >= 0)
  }

  test("PlanRouting (the ONE routing-law impl) matches an independent reference") {
    // plan.partIdOf delegates to PlanRouting (the codegen kernel), so the
    // parity oracle here is a from-scratch inline statement of the law:
    // lower-bound search in DocIdOrder (UTF-8 byte order) + xxh64-mod
    // salt over the id's UTF-8 bytes. Covers salted + unsalted buckets,
    // ASCII + supplementary-plane ids.
    def referencePartId(p: PartitionPlan, docId: String): Int = {
      var lo = 0
      var hi = p.boundaries.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (DocIdOrder.compare(p.boundaries(mid), docId) < 0) lo = mid + 1
        else hi = mid
      }
      val k = p.saltOf(lo)
      if (k <= 1) p.partOffset(lo)
      else {
        val h = Checksum.xxh64(
          docId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        p.partOffset(lo) + (((h % k) + k) % k).toInt
      }
    }
    val sample = (Array.fill(5000)(("dup-key", 1000L)) ++
      Array.tabulate(500)(i => (f"doc-$i%04d", 50L)) ++
      Array.tabulate(50)(i => (s"😀-$i", 50L)) // U+1F600, 4-byte UTF-8
      ).sortBy(_._1)(DocIdOrder)
    val plan = Planner.fromSample(sample, 8)
    assert(plan.saltOf.exists(_ > 1), "fixture must exercise a salted bucket")
    val routing = new PlanRouting(plan)
    val probes = sample.map(_._1) ++
      Array("", "a", "zzzz", "dup-kex", "dup-kez", "😀", "�")
    probes.foreach { id =>
      val expected = referencePartId(plan, id)
      assert(routing.partId(
        org.apache.spark.unsafe.types.UTF8String.fromString(id)) == expected,
        s"kernel divergence at doc_id '$id'")
      assert(plan.partIdOf(id) == expected, s"delegate divergence at '$id'")
    }
  }

  test("plan JSON round-trips through the manifest") {
    val sample = Array.tabulate(1000)(i => (f"d-$i%05d", (i % 17 + 1).toLong * 10))
    val plan = Planner.fromSample(sample, 8)
    val snap = Snapshot(3, 1234567L, plan, Set(1, 2),
      Map(1 -> PartLineage(1, 2, 10, 1000, 4000, 900, 0x123L,
        Map("rle" -> 1L, "dict" -> 1L), 555L)), files = Nil)
    val back = ManifestIO.fromJson(
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(ManifestIO.toJson(snap)))
    assert(back.version == 3 && back.committed == Set(1, 2))
    assert(back.plan.boundaries.sameElements(plan.boundaries))
    assert(back.plan.saltOf.sameElements(plan.saltOf))
    assert(back.plan.numParts == plan.numParts)
    assert(back.lineage(1).codecs == Map("rle" -> 1L, "dict" -> 1L))
    assert(back.lineage(1).checksum_xor == 0x123L)
  }

  test("PlanRouting equality is semantic (plan content), enabling CSE") {
    // two routings built from equal-content plans must compare equal so two
    // PartIdOf expressions over the same plan unify under Catalyst
    // subexpression elimination / exchange reuse
    val sample = Array.tabulate(100)(i => (f"d$i%04d", (i % 7 + 1).toLong))
      .sortBy(_._1)(DocIdOrder)
    val planA = Planner.fromSample(sample, 8)
    val planB = Planner.fromSample(sample.clone(), 8) // distinct object, same content
    val ra = new PlanRouting(planA)
    val rb = new PlanRouting(planB)
    assert(ra == rb && ra.hashCode == rb.hashCode)
    assert(PartIdOf(null, ra) == PartIdOf(null, rb))
    val planC = Planner.fromSample(sample.take(50), 8)
    assert(new PlanRouting(planC) != ra)
  }
}
