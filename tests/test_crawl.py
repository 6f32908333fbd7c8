"""Offline frontier search semantics vs the reference's
recursive_search (scraping.py:24-66): math-gated tree pruning,
visited-set anti-join, depth-round accounting, nonexistent targets
still marked visited."""

from latex_ocr_spark.operators.crawl import frontier_search, page_links


def _pages(spark, rows):
    return spark.createDataFrame(rows, "page_id string, text string")


def test_math_gate_prunes_tree(spark):
    pages = _pages(spark, [
        ("A", '$x$ <a href="/wiki/B">'),
        ("B", 'no math <a href="/wiki/C">'),   # visited but contributes nothing
        ("C", '$y$ <a href="/wiki/D">'),
    ])
    got = {r.id: r.first_depth for r in
           frontier_search(spark, pages, ["A"], depth=4).collect()}
    # B is reached and processed, but its link to C is never followed
    assert got == {"A": 0, "B": 1}


def test_nonexistent_target_still_visited(spark):
    pages = _pages(spark, [("A", '$x$ <a href="/wiki/GHOST">')])
    got = {r.id: r.first_depth for r in
           frontier_search(spark, pages, ["A"], depth=3).collect()}
    assert got == {"A": 0, "GHOST": 1}  # fetch failure == visited (ref behavior)


def test_depth_rounds_and_colon_filter(spark):
    pages = _pages(spark, [
        ("A", '$1$ <a href="/wiki/B"><a href="/wiki/Talk:Z">'),
        ("B", '$2$ <a href="/wiki/C">'),
        ("C", '$3$ <a href="/wiki/D">'),
        ("D", '$4$ <a href="/wiki/E">'),
    ])
    got = {r.id: r.first_depth for r in
           frontier_search(spark, pages, ["A"], depth=3).collect()}
    # depth=3 → rounds 0,1,2: D is discovered by round 2's processing
    # of C but never processed; Talk:Z filtered
    assert got == {"A": 0, "B": 1, "C": 2}
    edges = {(r.src, r.dst) for r in page_links(pages).collect()}
    assert ("A", "Talk:Z") not in edges


def test_cycle_terminates(spark):
    pages = _pages(spark, [
        ("A", '$1$ <a href="/wiki/B">'),
        ("B", '$2$ <a href="/wiki/A">'),
    ])
    got = {r.id: r.first_depth for r in
           frontier_search(spark, pages, ["A"], depth=10).collect()}
    assert got == {"A": 0, "B": 1}  # early exit once the frontier drains
