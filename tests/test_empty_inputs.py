"""Empty-input robustness: every dedup/similarity operator and the
ingest merge must return an empty result — never crash — on empty
inputs. At scale, empty inputs are routine (empty micro-batches after
a filter, empty partitions, a source with no new data); round 6 found
two driver-side crashes here (pq_topk's dims head() and
the Arrow cosine top-k's numpy normalization on a 0-row probe set)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401

from obmp_psql_spark.operators import dedup as D
from obmp_psql_spark.operators import similarity as S


def _docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def _vecs(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>")


def _pairs(spark):
    return spark.createDataFrame([], "id_a long, id_b long")


@pytest.mark.parametrize("build", [
    lambda s: D.minhash_lsh_pairs(_docs(s), "doc_id", "text",
                                  num_hashes=8, bands=2),
    lambda s: D.simhash_fingerprints(_docs(s), "doc_id", "text"),
    lambda s: D.simhash_neardup_pairs(_docs(s), "doc_id", "text",
                                      bits=32, bands=4),
    lambda s: D.ngram_jaccard_pairs(_docs(s), "doc_id", "text",
                                    threshold=0.1),
    lambda s: D.connected_components(_pairs(s)),
    lambda s: S.cosine_topk(_vecs(s), _vecs(s)),
    lambda s: S.cosine_topk(_vecs(s), s.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"), k=3),
    lambda s: S.lsh_topk(_vecs(s), dims=4, n_planes=2),
    lambda s: S.lsh_topk(_vecs(s), dims=4, n_planes=2,
                         max_bucket_size="auto"),
    lambda s: D.fingerprint_neardup_pairs(
        s.createDataFrame([], "img_id long, dhash long"),
        "img_id", "dhash", bits=60, bands=4, max_bucket_size="auto"),
    lambda s: D.frameset_neardup_pairs(
        s.createDataFrame([], "vid_id long, frame_index int, dhash long"),
        "vid_id", "frame_index", "dhash", bits=60, bands=4,
        max_bucket_size="auto"),
    lambda s: __import__("obmp_psql_spark.operators.multimodal",
                         fromlist=["audio_fingerprint63"])
        .audio_fingerprint63(
            s.createDataFrame([], "doc_id long, payload binary")),
    lambda s: S.ivf_topk(_vecs(s), n_centroids=4, nprobe=2),
    lambda s: S.pq_topk(_vecs(s), m=2, n_codes=2),
    lambda s: S.embedding_neardup_pairs(_vecs(s), threshold=0.9,
                                        allow_full_cross=True),
], ids=["minhash", "simhash_fp", "simhash_pairs", "ngram", "cc",
        "cosine", "cosine_arrow", "lsh", "lsh_auto", "fp_auto",
        "frameset_auto", "audio_fp", "ivf", "pq", "neardup"])
def test_operator_empty_input_returns_empty(spark, build):
    from obmp_psql_spark.operators.cache import (build_artifacts)
    with build_artifacts():
        assert build(spark).count() == 0


def test_connected_components_empty_edges_distributed_rounds(
        spark, monkeypatch):
    """The ``cc`` case above runs the driver-side rounds (0 pairs is
    under the bound); with the bound at -1 it runs the distributed
    rounds."""
    from obmp_psql_spark.operators import graph

    monkeypatch.setattr(graph, "CC_DRIVER_MAX_EDGES", -1)
    test_operator_empty_input_returns_empty(
        spark, lambda s: D.connected_components(_pairs(s)))


def test_arrow_topk_empty_items_side(spark):
    """Probe set non-empty but item side empty: per-batch guard must
    skip empty Arrow batches instead of feeding numpy a 0-row frame."""
    q = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    out = S.cosine_topk(q, _vecs(spark), k=3)
    assert out.count() == 0


def test_ingest_merge_empty_batch_is_noop(spark):
    """An empty micro-batch through the RIB merge must leave the state
    byte-identical (and emit an empty CDC log)."""
    from obmp_psql_spark.ingest import apply_unicast_prefix
    from obmp_psql_spark.queries_bmp import _messages
    from obmp_psql_spark.schemas import TABLE_SCHEMAS
    from tests.conftest import SF_SMALL

    empty_state = spark.createDataFrame([], TABLE_SCHEMAS["ip_rib"])
    msgs = _messages(spark, SF_SMALL).drop("event_id")
    # real state from a real batch, then an empty batch on top
    state, _ = apply_unicast_prefix(empty_state, msgs.limit(20))
    state = state.localCheckpoint()
    assert state.count() > 0
    new_state, log = apply_unicast_prefix(state, msgs.limit(0))
    assert log.count() == 0
    before = {tuple(r) for r in state.collect()}
    after = {tuple(r) for r in new_state.collect()}
    assert after == before


def test_tsv_parse_malformed_fields_degrade_to_null(spark):
    """Under ANSI mode (Spark 4 default) a plain cast ABORTS the
    micro-batch on the first malformed wire field. The parser must
    instead degrade broken numerics/timestamps to NULL (reference
    behavior: log-and-tolerate) so one bad message can't stall the
    stream."""
    from obmp_psql_spark.schemas import MESSAGE_SCHEMAS
    from obmp_psql_spark.sources.tsv import parse_tsv

    schema = MESSAGE_SCHEMAS["unicast_prefix"]
    n = len(schema.fields)
    # every field garbage except action/hash-ish strings
    garbage = "\t".join(["add"] + ["not!a@number"] * (n - 1))
    raw = spark.createDataFrame([(garbage,)], "value string")
    row = parse_tsv(raw, "unicast_prefix").collect()[0]
    # the row survives; string fields keep the junk, numeric and
    # timestamp fields are NULL
    import pyspark.sql.types as T
    for f in schema.fields:
        v = row[f.name]
        if isinstance(f.dataType, T.StringType):
            assert v is not None
        elif isinstance(f.dataType, (T.LongType, T.IntegerType,
                                     T.ShortType, T.TimestampType)):
            assert v is None, f.name


def test_net_parsers_malformed_inputs_yield_null(spark):
    """ipv4_to_long / masklen / asn_dot_to_long on garbage must yield
    NULL (or the documented default), never raise under ANSI mode."""
    from obmp_psql_spark.functions import net

    df = spark.createDataFrame(
        [("999.x.0.o", "10.0.0.0/xx", "not.asn"),
         ("10.0.0.1", "10.0.0.0/8", "64512.100")],
        "ip string, pref string, asn string")
    rows = df.select(
        net.ipv4_to_long(F.col("ip")).alias("ipl"),
        net.masklen(F.col("pref")).alias("ml"),
        net.asn_dot_to_long(F.col("asn")).alias("asn"),
    ).collect()
    bad, good = rows
    assert bad.ipl is None
    assert bad.ml == 32          # malformed mask -> host default
    assert bad.asn is None
    assert good.ipl == 167772161
    assert good.ml == 8
    assert good.asn == 64512 * 65536 + 100


def test_geo_csv_malformed_latlong_survives(spark, tmp_path):
    """A junk latitude ('N/A') in a DB-IP row must load as NULL, not
    abort the whole CSV under ANSI mode."""
    csv = tmp_path / "dbip.csv"
    csv.write_text(
        '10.0.0.0,10.0.0.255,NA,US,WA,Seattle,N/A,bogus,UTC\n'
        '10.1.0.0,10.1.0.255,NA,US,OR,Portland,45.52,-122.68,UTC\n')
    from obmp_psql_spark.sources.lookups import load_geo_dbip_csv

    rows = load_geo_dbip_csv(spark, str(csv)).collect()
    assert len(rows) >= 2
    by_city = {}
    for r in rows:
        by_city.setdefault(r.city, r)
    assert by_city["Seattle"].latitude is None
    assert by_city["Seattle"].longitude is None
    assert abs(by_city["Portland"].latitude - 45.52) < 1e-9


def test_ingest_with_dead_letter_replay_and_release(spark, tmp_path):
    """The dead-letter ingest must be exactly-once (replayed batch_id
    no-ops), atomic per batch, independent per feed (derived txn app
    name), and must release its parse persist before returning."""
    import pyspark.sql.types as T

    from obmp_psql_spark.sources.tsv import ingest_with_dead_letter
    from obmp_psql_spark.state import TxnStateStore

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("n", T.LongType()),
    ])
    store = TxnStateStore(spark, str(tmp_path))
    good = spark.createDataFrame([("a\t1",), ("b\t2",)], "value string")
    bad = spark.createDataFrame([("c\tXX",)], "value string")

    # Compare RDD-id SETS, not absolute counts: the async ContextCleaner
    # may reap another test's cached RDD mid-test in the shared session,
    # which would shrink an absolute count and flake the assertion.
    def cached_ids(spark):
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(x) for x in jmap.keySet().toArray()}

    before = cached_ids(spark)
    ingest_with_dead_letter(store, good, schema, ("n",), batch_id=0)
    ingest_with_dead_letter(store, bad, schema, ("n",), batch_id=1)
    ingest_with_dead_letter(store, good, schema, ("n",), batch_id=0)  # replay
    assert not (cached_ids(spark) - before)  # parse persist released

    assert store.read("wire_valid").count() == 2
    dead = store.read("wire_dead").collect()
    assert [(r.k, r.dl_reason) for r in dead] == [("c", "null:n")]

    # a second feed in the same store keeps its own replay counter
    ingest_with_dead_letter(store, bad, schema, ("n",), batch_id=0,
                            valid_table="v2", dead_table="d2")
    assert store.read("d2").count() == 1
