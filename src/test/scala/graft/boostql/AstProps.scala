package graft.boostql

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import Ast._

/** ScalaCheck properties over the AST traversal: random operand and
  * predicate trees over every node kind must rebuild unchanged through
  * [[Ast.mapChildren]], and [[Ast.children]] must agree with a
  * reflective reference that collects every operand/predicate field
  * outside a subquery body. A node kind that the traversal skips, or a
  * field it drops, fails here.
  */
object AstProps extends Properties("graft.boostql.ast") {

  private val sub: QuerySpec = Parser.parse("SELECT max(cpu) FROM d.f")

  private val rawName: Gen[RawName] =
    Gen.oneOf(Seq("cpu"), Seq("a", "cpu"), Seq("a", "cpu", "host")).map(RawName)

  private val leaf: Gen[Operand] = Gen.oneOf(
    Gen.choose(0L, 9L).map(v => OLit(BInt(v))),
    Gen.const(OLit(BNull)),
    Gen.const(OInterval("1 day")),
    rawName.map(ORef),
    Gen.option(rawName).map(OAgg("sum", _)),
    Gen.const(OScalarSub(sub)),
    Gen.const(OGroupKey("g")))

  private def few[T](g: Gen[T]): Gen[List[T]] =
    Gen.choose(0, 2).flatMap(Gen.listOfN(_, g))

  private def operand(d: Int): Gen[Operand] =
    if (d <= 0) leaf
    else {
      val o = Gen.lzy(operand(d - 1))
      val b = Gen.lzy(bexpr(d - 1))
      Gen.oneOf(
        leaf,
        for { a <- o; ps <- few(Gen.choose(0.0, 1.0)); a2 <- Gen.option(o) }
          yield OAggX("percentile", a, ps, a2),
        for { op <- Gen.oneOf("+", "-", "*", "/"); l <- o; r <- o }
          yield OArith(op, l, r),
        o.map(ONeg),
        few(o).map(OFn("coalesce", _)),
        o.map(OCast(_, "int")),
        for {
          c <- b; v <- o; more <- few(Gen.zip(b, o)); el <- Gen.option(o)
        } yield OCase((c, v) :: more, el),
        for {
          args <- few(o); part <- few(rawName); ord <- few(rawName)
          frame <- Gen.option(Gen.const(WFrame("rows", -2L, 0L)))
        } yield OWin("sum", args, part,
          ord.map(n => (n, true, Option.empty[Boolean])), frame))
    }

  private def bexpr(d: Int): Gen[BExpr] = {
    val o = Gen.lzy(operand(d - 1))
    val b = Gen.lzy(bexpr(d - 1))
    val leaves = Gen.oneOf(
      for { l <- o; r <- o } yield Cmp("<", l, r),
      o.map(IsNullE(_, negated = false)),
      for { x <- o; xs <- few(o) } yield InE(x, x :: xs, negated = true),
      for { x <- o; lo <- o; hi <- o } yield BetweenE(x, lo, hi, negated = false),
      o.map(LikeE(_, "a%", negated = false)),
      o.map(InSubE(_, sub, negated = false)),
      o.map(QuantE(">", _, sub, negated = true)),
      Gen.const(ExistsE(sub, negated = false)))
    if (d <= 0) leaves
    else Gen.oneOf(
      leaves,
      for { l <- b; r <- b } yield AndE(l, r),
      for { l <- b; r <- b } yield OrE(l, r),
      b.map(NotE))
  }

  private val node: Gen[Node] = Gen.oneOf(operand(3), bexpr(3))

  /** Every Operand/BExpr reachable through a node's fields without
    * entering a QuerySpec. */
  private def fieldNodes(x: Any): Seq[Node] = x match {
    case n: Node         => Seq(n)
    case _: QuerySpec    => Nil
    case xs: Iterable[_] => xs.toSeq.flatMap(fieldNodes)
    case p: Product      => p.productIterator.flatMap(fieldNodes).toSeq
    case _               => Nil
  }

  private val mark: Node => Node = {
    case _: Operand => OLit(BStr("mark"))
    case _: BExpr   => IsNullE(OLit(BStr("mark")), negated = false)
  }

  property("mapChildren(identity) rebuilds an equal tree") = forAll(node) { n =>
    def id(m: Node): Node = mapChildren(m)(id)
    id(n) == n && mapChildren(n)(identity) == n &&
      children(mapChildren(n)(mark)) == children(n).map(mark)
  }

  property("children = every operand/predicate field outside a subquery") =
    forAll(node) { n =>
      def all(m: Node): Seq[Node] = m +: children(m).flatMap(all)
      all(n).forall(m => children(m) ==
        m.asInstanceOf[Product].productIterator.flatMap(fieldNodes).toSeq)
    }
}
