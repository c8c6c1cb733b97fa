package graft

import graft.io.Hdf5Mini
import graft.io.Hdf5Mini._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

/** Randomized round-trip over the HDF5 codec's whole supported surface:
  * arbitrary group trees (depth ≤ 3, ≤ 8 members per group, names from
  * the SONATA alphabet incl. `@`/`0`-style ones), every dtype, rank-1/2
  * dims incl. zero-length datasets, empty groups, and attributes on both
  * — whatever the generator builds must read back identical through the
  * strict parser, and `readMeta`'s growing-prefix parse must agree with
  * the full read. Deterministic seeds (the [[PropertySpec]] harness
  * convention).
  */
class Hdf5PropertySpec extends AnyFunSuite {

  private def forAll[T](g: Gen[T], n: Int = 30)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(1042L + i)).foreach(body)
    }

  private val nameGen: Gen[String] = for {
    head <- Gen.oneOf(Gen.alphaLowerChar, Gen.const('@'), Gen.const('0'))
    tail <- Gen.listOfN(6, Gen.oneOf(Gen.alphaLowerChar, Gen.numChar, Gen.const('_')))
  } yield (head :: tail).mkString

  private val dtypeGen: Gen[H5Type] = Gen.oneOf(
    Gen.const(I8), Gen.const(I16), Gen.const(I32), Gen.const(I64),
    Gen.const(U8), Gen.const(U16), Gen.const(U32), Gen.const(U64),
    Gen.const(F32), Gen.const(F64),
    Gen.chooseNum(1, 24).map(FixedStr))

  private val dsGen: Gen[DatasetSpec] = for {
    name <- nameGen
    t <- dtypeGen
    rank <- Gen.chooseNum(1, 2)
    dims <- Gen.listOfN(rank, Gen.chooseNum(0L, 40L))
    nAttrs <- Gen.chooseNum(0, 2)
    attrs <- Gen.listOfN(nAttrs, Gen.zip(nameGen, Gen.alphaStr.map(_.take(30))))
  } yield DatasetSpec(name, t, dims, attrs)

  private def groupGen(depth: Int): Gen[GroupSpec] = for {
    name <- nameGen
    nDs <- Gen.chooseNum(0, 4)
    ds0 <- Gen.listOfN(nDs, dsGen)
    nSub <- if (depth <= 0) Gen.const(0) else Gen.chooseNum(0, 3)
    subs0 <- Gen.listOfN(nSub, groupGen(depth - 1))
    nAttrs <- Gen.chooseNum(0, 2)
    attrs <- Gen.listOfN(nAttrs, Gen.zip(nameGen, Gen.alphaStr.map(_.take(20))))
  } yield {
    // unique member names within the group (the writer requires it)
    val ds = ds0.groupBy(_.name).values.map(_.head).toSeq
    val subs = subs0.groupBy(_.name).values.map(_.head).toSeq
      .filterNot(g => ds.exists(_.name == g.name))
    GroupSpec(name, subs, ds, attrs)
  }

  private val treeGen: Gen[GroupSpec] =
    groupGen(2).map(g => GroupSpec("", g.groups, g.datasets, g.attrs))

  private def deterministicBytes(r: DataRegion, seedStr: String): Array[Byte] = {
    val n = r.byteSize.toInt
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = ((seedStr.hashCode * 31 + i * 131) & 0xFF).toByte; i += 1 }
    // FixedStr cells must stay null-terminable ASCII for value compare
    r.dtype match {
      case FixedStr(_) =>
        var j = 0
        while (j < n) { out(j) = ('a' + ((out(j) & 0x7F) % 26)).toByte; j += 1 }
      case _ =>
    }
    out
  }

  test("random trees round-trip byte-exact through write → fill → read") {
    forAll(treeGen) { tree =>
      val dir = Files.createTempDirectory("h5prop")
      dir.toFile.deleteOnExit()
      val path = dir.resolve("t.h5").toString
      val regions = Hdf5Mini.write(path, tree)
      val written = regions.map { case (p, r) =>
        val bytes = deterministicBytes(r, p)
        if (bytes.nonEmpty) Hdf5Mini.fill(path, r, 0L, bytes)
        p -> bytes
      }
      val f = Hdf5Mini.read(path)
      assert(f.datasets.keySet == regions.keySet)
      // every dataset: dims + dtype + raw bytes survive
      regions.foreach { case (p, r) =>
        val ds = f.datasets(p)
        assert(ds.dims == r.dims, s"$p dims")
        assert(ds.dtype == r.dtype, s"$p dtype")
        val back = java.util.Arrays.copyOfRange(
          f.bytes, ds.dataAddress.toInt, (ds.dataAddress + ds.byteSize).toInt)
        assert(back.sameElements(written(p)), s"$p data")
      }
      // metadata-prefix parse agrees with the full parse
      val meta = Hdf5Mini.readMeta(path)
      assert(meta.datasets.keySet == f.datasets.keySet)
      meta.datasets.foreach { case (p, ds) =>
        val full = f.datasets(p)
        assert(ds.dataAddress == full.dataAddress && ds.dims == full.dims &&
          ds.dtype == full.dtype && ds.attrs == full.attrs, p)
      }
      assert(meta.groupAttrs == f.groupAttrs)
      // attributes round-trip on datasets and groups
      def walk(g: GroupSpec, prefix: String): Unit = {
        val gp = if (prefix.isEmpty) "/" else prefix
        assert(f.groupAttrs(gp) == g.attrs.toMap, s"group attrs at $gp")
        g.datasets.foreach { d =>
          assert(f.datasets(s"$prefix/${d.name}").attrs == d.attrs.toMap,
            s"dataset attrs at $prefix/${d.name}")
        }
        g.groups.foreach(sub => walk(sub, s"$prefix/${sub.name}"))
      }
      walk(tree, "")
    }
  }

  test("wide groups (past the old 64-member single-SNOD cap) round-trip " +
    "and pass the independent spec validator") {
    // 65 is the first multi-SNOD size; 129 forces three chunks; 300 a
    // mid-size stress; 2048 is the new loud cap boundary
    val sizes = Seq(65, 129, 300)
    sizes.foreach { n =>
      val dir = Files.createTempDirectory("h5wide")
      dir.toFile.deleteOnExit()
      val path = dir.resolve(s"wide$n.h5").toString
      // names deliberately NOT pre-sorted — the writer must sort and
      // bracket them into ordered SNOD chunks itself
      val names = (0 until n).map(i => f"col_${(i * 7919) % n}%04d")
      val tree = GroupSpec("", groups = Seq(GroupSpec("wide",
        datasets = names.map(m => DatasetSpec(m, I32, Seq(3L))))))
      val regions = Hdf5Mini.write(path, tree)
      assert(regions.size == n)
      names.foreach(m => Hdf5Mini.fill(path, regions(s"/wide/$m"), 0L,
        deterministicBytes(regions(s"/wide/$m"), m)))
      val f = Hdf5Mini.read(path)
      assert(f.datasets.keySet == regions.keySet, s"n=$n member census")
      names.foreach { m =>
        val ds = f.datasets(s"/wide/$m")
        val back = java.util.Arrays.copyOfRange(
          f.bytes, ds.dataAddress.toInt, (ds.dataAddress + ds.byteSize).toInt)
        assert(back.sameElements(deterministicBytes(regions(s"/wide/$m"), m)), m)
      }
      // the independent spec-derived checker must accept the multi-SNOD
      // B-tree (key ordering, SNOD sort, chunk bracketing)
      val (code, out) = ToolCheck.h5check(path)
      assert(code == 0, s"h5check rejected the $n-member group:\n$out")
    }
    // past the 2048 cap: loud error, never a silent drop
    val tooWide = GroupSpec("", groups = Seq(GroupSpec("wide",
      datasets = (0 until 2049).map(i => DatasetSpec(f"c$i%04d", I8, Seq(1L))))))
    val dir = Files.createTempDirectory("h5wide")
    val e = intercept[IllegalArgumentException] {
      Hdf5Mini.write(dir.resolve("toowide.h5").toString, tooWide)
    }
    assert(e.getMessage.contains("2048"))
  }
}
