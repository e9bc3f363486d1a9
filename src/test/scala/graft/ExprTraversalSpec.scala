package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.jexpr.{Expr, Parser}

/** Completeness of the one child walk (`Expr.mapChildren`): every
  * position where a node keeps a sub-expression holds `$.region` in
  * one text, and the walk must reach it there. */
class ExprTraversalSpec extends AnyFunSuite {

  private val positions = Seq(
    "f-string interpolation"  -> "f\"n={$.region}\"",
    "array element"           -> "[1, $.region]",
    "array spread"            -> "[...$.region]",
    "object value"            -> "{a: $.region}",
    "object when guard"       -> "{a: 1 when $.region}",
    "optional object value"   -> "{a?: $.region}",
    "dynamic object key"      -> "{[$.region]: 1}",
    "dynamic object value"    -> "{[\"k\"]: $.region}",
    "object spread"           -> "{...$.region}",
    "object deep spread"      -> "{...**$.region}",
    "lambda body"             -> "lambda x: $.region",
    "let binding"             -> "let x = $.region in x",
    "let body"                -> "let x = 1 in $.region",
    "comprehension element"   -> "[$.region for x in @]",
    "comprehension value"     -> "{x: $.region for x in @}",
    "comprehension source"    -> "[x for x in $.region]",
    "comprehension condition" -> "[x for x in @ if $.region]",
    "global call argument"    -> "coalesce($.region, 1)",
    "patch target"            -> "patch $.region {a: 1}",
    "patch value"             -> "patch @ {a: $.region}",
    "patch when guard"        -> "patch @ {a: 1 when $.region}",
    "patch path guard"        -> "patch @ {a[* if $.region]: 1}",
    "chain base"              -> "($.region ?? 1).len()",
    "dynamic field step"      -> "@.{$.region}",
    "method argument"         -> "@.map($.region)",
    "deep method argument"    -> "@..find($.region)",
    "index step"              -> "@[$.region]",
    "inline filter step"      -> "@{$.region}",
    "map-shape predicate"     -> "@[* if $.region] => 1",
    "map-shape shape"         -> "@[*] => $.region",
    "unary operand"           -> "not $.region",
    "binary operand"          -> "1 + $.region",
    "if condition"            -> "1 if $.region else 2",
    "if branch"               -> "$.region if true else 2",
    "else branch"             -> "1 if true else $.region",
    "try body"                -> "try $.region else 1",
    "try default"             -> "try 1 else $.region",
    "kind test operand"       -> "$.region is array",
    "cast operand"            -> "$.region as string",
    "pipe base"               -> "$.region | len",
    "pipe stage"              -> "1 | $.region")

  /** Every `$` replaced by `@`, bottom-up through [[Expr.mapChildren]]. */
  private def rootToCurrent(e: Expr): Expr =
    Expr.mapChildren(e)(rootToCurrent) match {
      case Expr.Root => Expr.Current
      case other     => other
    }

  positions.foreach { case (position, text) =>
    test(s"the child walk reaches the $position") {
      val e = Parser.parse(text)
      assert(e != Parser.parse("$.region"), s"$text is a bare table read")
      assert(Expr.exists(e)(_ == Expr.Root), text)
      assert(Expr.mapChildren(e)(identity) == e, text)
      // the rebuilt node keeps what `f` returned in that position
      assert(!Expr.exists(rootToCurrent(e))(_ == Expr.Root), text)
    }
  }

  test("names are not children: a text without `$` has none to find") {
    for (text <- Seq("lambda x: x", "{a, b?}", "1 | len -> n", "patch @ {a[*]: 1}"))
      assert(!Expr.exists(Parser.parse(text))(_ == Expr.Root), text)
  }
}
