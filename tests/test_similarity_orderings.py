"""Two orderings of the IVF/PQ code that the oracle sweep cannot see, pinned
on constructed inputs:

- ``_rank_cells`` breaks an exact cosine tie to the lower ``cid``. The
  testdata has no exact ties, so a flipped tiebreak still matches every
  oracle.
- ``_pq_adc`` adds the per-subspace lookup values left to right,
  ``((d0 + d1) + d2) + d3``, the order the DuckDB replay uses. The
  registered queries round the score to 6 places, which hides a
  last-bit difference, so the score is compared here unrounded.
"""

from __future__ import annotations

from apache_hive_1_2_2_src_spark.extensions.similarity import (
    _PQ_M,
    _PQ_SUB,
    _pq_adc,
    _rank_cells,
)


def test_rank_cells_breaks_an_exact_tie_to_the_lower_cid(spark):
    x = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    # cids 5 and 3 hold the same vector, so their cosines are equal to the
    # last bit; cid 4 points the other way.
    cent = spark.createDataFrame(
        [(5, [0.5, 0.25]), (4, [-1.0, 0.0]), (3, [0.5, 0.25])],
        "cid int, ce array<double>",
    )
    ranked = {r.cid: (r.rnk, r["__acos"]) for r in _rank_cells(x, cent).collect()}
    assert ranked[3][1] == ranked[5][1]
    assert {cid: rnk for cid, (rnk, _) in ranked.items()} == {3: 1, 5: 2, 4: 3}


def test_pq_adc_sums_the_lookup_values_left_to_right(spark):
    # Subspace m of the query is (1, 0, ..., 0) and each code of codebook m
    # is (v, 0, ..., 0), so lookup value d_m is exactly v. The values make
    # float addition non-associative: 1 + 2**-53 rounds back to 1.
    values = [[1.0, 0.5], [2.0**-53, 0.25], [2.0**-53, 0.125], [-1.0, 3.0]]
    assert len(values) == _PQ_M
    q = spark.createDataFrame(
        [(7, ([1.0] + [0.0] * (_PQ_SUB - 1)) * _PQ_M)],
        "query_id long, embedding array<double>",
    )
    cbs = [
        spark.createDataFrame(
            [(cid, [v] + [0.0] * (_PQ_SUB - 1)) for cid, v in enumerate(vs)],
            "cid int, ce array<double>",
        )
        for vs in values
    ]
    codes = [(0, 0, 0, 0), (1, 0, 0, 0), (0, 1, 1, 0), (1, 1, 1, 1)]
    pairs = spark.createDataFrame(
        [(7, cand, *c) for cand, c in enumerate(codes)],
        "query_id long, cand_id long, " + ", ".join(f"code{m} int" for m in range(_PQ_M)),
    )
    got = {r.cand_id: r.adc for r in _pq_adc(pairs, q, cbs).collect()}

    def summed(ds):
        total = ds[0]
        for d in ds[1:]:
            total = total + d
        return total

    want = {
        cand: summed([values[m][code] for m, code in enumerate(c)])
        for cand, c in enumerate(codes)
    }
    # The inputs tell the orders apart: summed in reverse, or in pairs,
    # candidate 0 gets a different score.
    lut0 = [values[m][0] for m in range(_PQ_M)]
    assert summed(lut0[::-1]) != want[0]
    assert (lut0[0] + lut0[1]) + (lut0[2] + lut0[3]) != want[0]
    assert got == want
