"""The generators are pure functions of the seed."""

import os
import random

from perfbench import gen


def _codec(seed):
    inp = gen.codec_inputs(seed, 300, 100, 2, 20, 0.01, 16)
    return gen.digest([inp["json_rows"], inp["bin_rows"], inp["perm_rows"], inp["topic_json"], inp["family"]])


def test_codec_inputs_repeat_for_a_seed_and_differ_across_seeds():
    assert _codec(7) == _codec(7)
    assert _codec(7) != _codec(8)


def test_codec_inputs_carry_the_seeded_malformed_count():
    inp = gen.codec_inputs(3, 1000, 500, 1, 10, 0.01, 4)
    assert len(inp["perm_rows"]) == 500
    changed = sum(a != b for a, b in zip(inp["json_rows"], inp["perm_rows"]))
    assert changed == inp["n_malformed"] == 5


def test_schema_family_has_recursive_members():
    fam = gen.gen_schema_family(random.Random(1), 16)
    assert len(fam) == len(set(fam)) == 16
    assert sum('"next"' in s for s in fam) == 2


def test_binary_writer_versions_differ_only_where_the_schemas_do():
    (d,) = gen.gen_orders(random.Random(5), 1)
    v1 = gen.avro_binary(d, gen.WRITER_SCHEMAS[1])
    v2 = gen.avro_binary(d, gen.WRITER_SCHEMAS[2])
    channel = d["channel"].encode()
    assert v2 == v1 + bytes([len(channel) * 2]) + channel


def test_tables_repeat_for_a_seed_and_differ_across_seeds(tmp_path):
    digests = []
    for i, seed in enumerate((11, 11, 12)):
        out = tmp_path / str(i)
        out.mkdir()
        gen.gen_tables(str(out), seed, 0.0005)
        digests.append(gen.file_digest([str(out / f) for f in sorted(os.listdir(out))]))
    assert digests[0] == digests[1] != digests[2]


def _churn(seed):
    s = gen.ChurnStream(seed, 200, 20, 5)
    ops = [s.seed_rows]
    for _ in range(3):
        ops += [s.upsert_batch(), s.delete_batch(), s.point_keys(4)]
    return gen.digest(ops)


def test_churn_stream_repeats_for_a_seed_and_differs_across_seeds():
    assert _churn(1) == _churn(1)
    assert _churn(1) != _churn(2)


def test_churn_upserts_are_mostly_updates():
    s = gen.ChurnStream(4, 1000, 100, 5)
    live = set(s.live)
    batch = s.upsert_batch()
    updates = sum(r[0] in live for r in batch)
    assert len(batch) == 100 and updates == 70
