"""Extractor unit tests with inline HTML fixtures — the reference's test
strategy (``boxing/tests/extract/page/boxer/fields/test_bouts.py:16-51``
feeds minimal dataTable snippets and asserts field values). Same model here:
tiny deterministic pages through the vectorized UDFs.
"""

import html
import random
import re
import sys

import pytest
from pyspark.sql import functions as F

from data_pipelines_spark.extract.html import (
    _COMMENT_RE,
    _SKIP_BLOCK_RE,
    _TAG_RE,
    _clean,
    _to_text_one,
    extract_bouts,
    extract_page_fields,
    html_to_text,
)

PROFILE_PAGE = """
<html><head><title>BoxRec: Conor Fan</title></head><body>
<h1>Conor Fan</h1>
<table class="profileTable">
<tr><td>status</td><td>active</td></tr>
<tr><td>division</td><td>welterweight</td></tr>
<tr><td>born</td><td>1990-07-14 (age 35)</td></tr>
<tr><td>sex</td><td>female</td></tr>
<tr><td>nationality</td><td>Ireland</td></tr>
<tr><td>stance</td><td>Southpaw</td></tr>
<tr><td>height</td><td>5' 9"</td></tr>
<tr><td>alias</td><td>The Notorious, Mystic</td></tr>
</table>
<table class="profileWLD"><tr>
<td class="bgW">22</td><td class="bgL">3</td><td class="bgD">1</td>
</tr></table>
<p>body text here for length</p>
</body></html>
"""

BOUTS_PAGE = """
<html><body><table class="dataTable">
<tr><th>date</th><th>opponent</th></tr>
<tr><td colspan="6">event note row — skipped</td></tr>
<tr>
  <td>2024-03-15</td>
  <td><a class="personLink" href="/box-pro/628407">Conor McGregor</a>
      <span class="textWon">22</span><span class="textLost">4</span>
      <span class="textDraw">1</span></td>
  <td></td><td></td><td></td>
  <td>Madison Square Garden</td>
  <td class="boutResult">W TKO 3</td>
  <td><a href="/event/77777/888">event</a></td>
</tr>
<tr>
  <td>2023-11-02</td>
  <td><a class="personLink" href="/box-pro/555">Floyd Money</a></td>
  <td></td><td></td><td></td>
  <td>Las Vegas</td>
  <td class="boutResult">L UD 12</td>
  <td></td>
</tr>
<tr><td>no-date row</td><td>skipped: no opponent link</td></tr>
</table></body></html>
"""


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(
        [(1, PROFILE_PAGE.encode()), (2, BOUTS_PAGE.encode()), (3, None)],
        "id int, html binary",
    )


def test_profile_fields(spark, pages):
    row = (
        pages.select("id", extract_page_fields(F.col("html")).alias("f"))
        .where(F.col("id") == 1)
        .select("f.*")
        .collect()[0]
    )
    assert row.title == "Conor Fan" and row.name == "Conor Fan"
    assert row.status == "active" and row.division == "welterweight"
    assert row.birth_date == "1990-07-14"  # (age) suffix stripped
    assert row.gender == "F"
    assert row.nationality == "Ireland"
    assert row.stance == "southpaw"
    assert row.height_cm == int((5 * 12 + 9) * 2.54)  # 175
    assert row.nicknames == ["The Notorious", "Mystic"]
    assert (row.pro_wins, row.pro_losses, row.pro_draws) == (22, 3, 1)


def test_gender_defaults_to_m_when_absent(spark, pages):
    """Reference quirk: gender.py:23-24 defaults to 'M'."""
    row = (
        pages.select("id", extract_page_fields(F.col("html")).alias("f"))
        .where(F.col("id") == 2)
        .select("f.gender")
        .collect()[0]
    )
    assert row.gender == "M"


def test_bouts_udtf_explode(spark, pages):
    bouts = (
        pages.where(F.col("id") == 2)
        .select("id", F.posexplode(extract_bouts(F.col("html"))).alias("i", "b"))
        .select("id", "i", "b.*")
        .orderBy("i")
        .collect()
    )
    assert len(bouts) == 2  # header, note and incomplete rows skipped
    first, second = bouts
    assert first.bout_date == "2024-03-15"
    assert first.opponent_name == "Conor McGregor"
    assert first.opponent_id == "628407"
    assert first.opponent_record == "22-4-1"
    assert first.venue == "Madison Square Garden"
    assert (first.result, first.result_method, first.result_round) == ("W", "TKO", 3)
    assert first.event_id == "77777"
    assert (second.result, second.result_method, second.result_round) == ("L", "UD", 12)
    assert second.opponent_record is None and second.event_id is None


def test_null_html_yields_empty_and_nulls(spark, pages):
    row = (
        pages.where(F.col("id") == 3)
        .select(
            extract_bouts(F.col("html")).alias("bouts"),
            extract_page_fields(F.col("html")).alias("f"),
            html_to_text(F.col("html")).alias("text"),
        )
        .collect()[0]
    )
    assert row.bouts == []
    assert row.f.title is None and row.text is None


def test_pipeline_extract_fields_lands_in_table(spark, tmp_root):
    """§3.1 load-path parity: extract (wide struct) + bout UDTF output are
    carried through dedup → MERGE and land as nested lake-table columns."""
    import os

    from data_pipelines_spark.gen.changegen import change_stream
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    changes = change_stream(spark, n_events=500, n_keys=80, seed=42)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            table_root=os.path.join(tmp_root, "t"), n_buckets=4, extract_fields=True
        ),
    )
    pipe.run_batches(changes, n_batches=2)
    out = pipe.table.read()
    assert "fields" in out.columns and "bouts" in out.columns
    row = out.where(F.col("fields.name").isNotNull()).select(
        "fields.status", F.size("bouts").alias("nb")
    ).collect()[0]
    assert row.status in ("active", "inactive") and row.nb >= 1


def test_bout_staging_rename_contract(spark, pages):
    """Reference contract test parity: opponent_name→opponent,
    venue→location (test_to_staging_mirror_db.py:9-79)."""
    from data_pipelines_spark.extract.html import bouts_to_staging, extract_bouts

    row = (
        pages.where(F.col("id") == 2)
        .select(bouts_to_staging(extract_bouts(F.col("html"))).alias("bouts"))
        .select(F.explode("bouts").alias("b"))
        .select("b.*")
        .collect()[0]
    )
    d = row.asDict()
    assert d["opponent"] == "Conor McGregor" and d["location"] == "Madison Square Garden"
    assert "opponent_name" not in d and "venue" not in d


def test_bout_id_positional_index(spark, pages):
    """W3: positional index within group → `{id}_bout_{i}` unique ids."""
    from data_pipelines_spark.functions.normalize import bout_id

    ids = (
        pages.where(F.col("id") == 2)
        .select("id", F.posexplode(extract_bouts(F.col("html"))).alias("i", "b"))
        .select(bout_id(F.col("id").cast("string"), F.col("i")).alias("bid"))
        .collect()
    )
    assert [r.bid for r in ids] == ["2_bout_0", "2_bout_1"]


def _regex_collapse(s: str) -> str:
    """The reference whitespace collapse the decode kernel must equal."""
    return re.sub(r"\s+", " ", s).strip()


def test_whitespace_collapse_equals_regex_on_every_code_point():
    """The decode kernel collapses whitespace with str.split(); that must be
    byte-identical to re.sub(r"\\s+", " ", s).strip() for every code point
    (lone surrogates included), inside, repeated and at the edges of a
    string, and on random mixes of tags, entities and Unicode whitespace."""
    chars = [chr(c) for c in range(sys.maxunicode + 1)]
    for i in range(0, len(chars), 4096):
        chunk = chars[i : i + 4096]
        inner = "".join(f"a{c}b{c}{c}" for c in chunk)
        assert _clean(inner) == _regex_collapse(_TAG_RE.sub(" ", inner)), i
    for c in chars:
        edge = f"{c}a{c}"
        assert _clean(edge) == _regex_collapse(edge), hex(ord(c))

    def reference(page: str) -> str:
        s = _SKIP_BLOCK_RE.sub(" ", page)
        s = _COMMENT_RE.sub(" ", s)
        s = html.unescape(_TAG_RE.sub(" ", s))
        return _regex_collapse(s)

    spaces = [c for c in chars if c.isspace()]
    alphabet = spaces + list("ab<>/&;#x") + [
        "<p>", "</p>", "<script>x</script>", "<!-- c -->", "&nbsp;",
        "&#x2003;", "&#133;", "&amp;", "\ud800", "\udfff", "é", "\u200b",
    ]
    rng = random.Random(7)
    for _ in range(20000):
        page = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        assert _to_text_one(page) == reference(page), repr(page)
