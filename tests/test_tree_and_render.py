"""G1/G2/E5 tests: recursive-CTE closure fixpoint on deep/multi-root
trees; HTML page rendering (golden-structure assertions, SURVEY §5.3)."""

from __future__ import annotations

from hnarchive_spark.functions.render import fix_ptags, render_page
from hnarchive_spark.operators.tree import tree_closure
from hnarchive_spark.plans import fixtures as FX


def test_closure_depth_and_membership(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    rows = {(r["root_id"], r["id"]): r["depth"] for r in tree_closure(items, [1]).collect()}
    # story 1: chain 1 -> 2 -> 5 -> 6 -> 7 plus siblings 3, 4 and deleted 8
    assert rows[(1, 1)] == 0
    assert rows[(1, 2)] == 1 and rows[(1, 3)] == 1 and rows[(1, 4)] == 1
    assert rows[(1, 5)] == 2 and rows[(1, 6)] == 3 and rows[(1, 7)] == 4
    assert rows[(1, 8)] == 2
    assert (1, 41) not in rows  # pollopts hang off `poll`, not `parent`


def test_closure_multi_root_single_pass(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    out = tree_closure(items, [1, 40]).collect()
    roots = {r["root_id"] for r in out}
    assert roots == {1, 40}
    tree40 = {r["id"] for r in out if r["root_id"] == 40}
    assert tree40 == {40, 44}  # poll + its comment (not its pollopts)


def test_closure_of_no_roots_is_empty(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    out = tree_closure(items, [])
    assert out.columns == ["root_id", "id", "depth"]
    assert out.collect() == []


def test_closure_max_depth_bound(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    out = tree_closure(items, [1], max_depth=1).collect()
    assert max(r["depth"] for r in out) == 1


def test_fix_ptags_matches_reference_semantics():
    # hnarchive.py:294-304: 'a<p>b' -> '<p>a</p><p>b</p>'
    assert fix_ptags("a<p>b") == "<p>a</p><p>b</p>"
    assert fix_ptags("plain") == "<p>plain</p>"
    # pre-escaped text is left escaped (reference comment :296-301)
    assert fix_ptags("x &lt;p&gt; y") == "<p>x &lt;p&gt; y</p>"


def test_render_story_page_structure(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    page = render_page(items, 1)
    assert page.startswith("<html>")
    assert 'class="story" id="1"' in page
    assert "Story A" in page
    # deep chain renders nested: comment 7 inside 6 inside 5 inside 2
    assert page.index('id="2"') < page.index('id="5"') < page.index('id="6"') < page.index('id="7"')
    # sibling order under root is by time: 3 (t+100) before 4 (t+200) before 2 (t+300)
    assert page.index('id="3"') < page.index('id="4"') < page.index('id="2"')
    # deleted comment renders [deleted] author and body
    assert "[deleted]" in page
    # unbalanced <p> got repaired
    assert "<p>b</p><p>c</p>" in page


def test_render_poll_page_includes_options(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    page = render_page(items, 40)
    assert 'class="poll" id="40"' in page
    # options sorted by score desc: 41 (10) before 42 (7) before 43 (1)
    assert page.index('id="41"') < page.index('id="42"') < page.index('id="43"')
    # the poll's comment (parent edge) renders in the comments block
    assert 'id="44"' in page


def test_render_job_and_missing_root(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    assert 'class="job" id="20"' in render_page(items, 20)
    assert render_page(items, 99999) == ""


def test_render_to_files(spark, tmp_path):
    from hnarchive_spark.functions.render import render_to_files

    items = FX.items_df(spark, FX.TREE_ITEMS)
    tpl = str(tmp_path / "page_{id}.html")
    out = render_to_files(items, [1, 20], tpl)
    assert set(out) == {1, 20}
    assert (tmp_path / "page_1.html").read_text() == out[1]
