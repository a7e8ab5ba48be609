"""Unit tests for admission predicates not expressible over the tweets
view: P2 (place-polygon bbox containment, applied when the input has a
``place_ring`` column) and P8's exact-pair coordinate blocklist
(reference tweet_utils.py:227-229, :261-270)."""

from __future__ import annotations

from pyspark.sql import functions as F

from thisishappening_spark.functions.geo import BoundingBox
from thisishappening_spark.operators.admission import (
    AdmissionConfig,
    admission_check_exprs,
    admit,
)

RING = [[-71.10, 42.30], [-71.10, 42.40], [-71.00, 42.40], [-71.00, 42.30], [-71.10, 42.30]]


def _df(spark, rows):
    return spark.createDataFrame(
        rows,
        "tweet_body string, quoted_text string, longitude double, latitude double, "
        "has_coords boolean, place_type string, user_screen_name string, "
        "user_id_str string, possibly_sensitive boolean, is_quote_status boolean, "
        "is_reply_status boolean, friends_count long, followers_count long, "
        "place_ring array<array<double>>",
    )


def base_row(**kw):
    row = dict(
        tweet_body="hello world",
        quoted_text="",
        longitude=-71.05,
        latitude=42.35,
        has_coords=True,
        place_type="poi",
        user_screen_name="alice",
        user_id_str="1",
        possibly_sensitive=False,
        is_quote_status=False,
        is_reply_status=False,
        friends_count=10,
        followers_count=10,
        place_ring=RING,
    )
    row.update(kw)
    return tuple(row.values())


def test_place_bbox_containment(spark):
    """P2: point inside the polygon's min/max bbox passes; outside fails;
    no ring or no coords → vacuously true (tweet_utils.py:227-229). admit
    applies it because the input has a ``place_ring`` column."""
    df = _df(
        spark,
        [
            base_row(user_id_str="1"),  # inside ring bbox
            base_row(user_id_str="2", longitude=-70.50),  # outside ring bbox
            base_row(user_id_str="3", place_ring=None),  # no ring → vacuous
            # no coords → vacuous (P5 keeps it through the poi place type)
            base_row(user_id_str="4", longitude=-70.50, has_coords=False),
        ],
    )
    kept = {r.user_id_str for r in admit(df, AdmissionConfig()).collect()}
    assert [i in kept for i in "1234"] == [True, False, True, True]
    # Without the ring column P2 does not apply: every row is admitted.
    assert admit(df.drop("place_ring"), AdmissionConfig()).count() == 4


def test_lat_lon_blocks_exact_pair_only(spark):
    """P8 rejects only the exact blocked pair: a blocked longitude at a
    different latitude, or the reverse, is kept. (The reference's
    conditional-expression precedence, tweet_utils.py:261-270, would also
    reject a blocked longitude at any latitude; the evident intent is
    implemented instead.)"""
    blocked = ((-71.05, 42.35),)
    rows = [
        base_row(),  # exact blocked pair
        base_row(latitude=40.0),  # blocked lon, different lat
        base_row(longitude=-71.06),  # different lon, blocked lat
    ]
    df = _df(spark, rows)

    check = admission_check_exprs(AdmissionConfig(ignore_lon_lat=blocked))["valid_lat_lon"]
    out = df.select(F.expr(check).alias("ok")).collect()
    assert [r.ok for r in out] == [False, True, True]


def test_full_conjunction_drops_each_violation(spark):
    """Each predicate independently drops its violating row."""
    cfg = AdmissionConfig(
        bounding_box=BoundingBox(west=-71.2, south=42.2, east=-70.9, north=42.5),
        ignore_words=(r"\bspam\b",),
        ignore_user_screen_names=("bot",),
        ignore_user_id_str=("666",),
        ignore_possibly_sensitive=True,
        ignore_quote_status=True,
        ignore_reply_status=True,
        min_friends_count=2,
        min_followers_count=2,
    )
    rows = [
        base_row(),  # passes everything
        base_row(tweet_body=""),  # P14
        base_row(longitude=-75.0),  # P1
        base_row(longitude=-70.95),  # P2 (inside P1's box, outside the ring's)
        base_row(tweet_body="buy spam now"),  # P3
        base_row(quoted_text="spam quoted"),  # P4
        base_row(has_coords=False, place_type="country"),  # P5
        base_row(user_screen_name="mega_bot_3000"),  # P6
        base_row(user_id_str="666"),  # P7
        base_row(possibly_sensitive=True),  # P9
        base_row(is_quote_status=True),  # P10
        base_row(is_reply_status=True),  # P11
        base_row(friends_count=1),  # P12
        base_row(followers_count=0),  # P13
    ]
    df = _df(spark, rows)
    assert admit(df, cfg).count() == 1
