"""Offline unit tests for the KV-cache decoder plumbing
(informers_spark/backend/kv_cache.py) with fabricated arrays and
duck-typed fake sessions — the onnxruntime wheel is absent in this
sandbox, so these pin the pure transforms the reference implements in
models.rb:429-463 (seq2seq_forward), :473-539 (past plumbing) and
:665-689 (decoder_forward)."""

import numpy as np
import pytest

from informers_spark.backend.kv_cache import (
    add_past_key_values,
    cut_input_ids_for_cache,
    decoder_forward,
    empty_past_key_values,
    get_attentions,
    get_past_key_values,
    kv_dims_from_config,
    seq2seq_forward,
    session_run_named,
)


class FakeIO:
    def __init__(self, name):
        self.name = name


class FakeSession:
    """Duck-typed onnxruntime session: declared inputs/outputs + a run fn."""

    def __init__(self, input_names, output_names, run_fn):
        self._inputs = [FakeIO(n) for n in input_names]
        self._outputs = [FakeIO(n) for n in output_names]
        self._run_fn = run_fn
        self.last_feed = None

    def get_inputs(self):
        return self._inputs

    def get_outputs(self):
        return self._outputs

    def run(self, output_names, feed):
        self.last_feed = feed
        return self._run_fn(feed)


# --- pure transforms -------------------------------------------------------


def test_get_past_key_values_maps_present_to_past():
    # present.* -> past_key_values.* via FIRST-occurrence sub
    # (models.rb:476-478 String#sub)
    k = np.ones((1, 2, 3, 4))
    res = {"logits": np.zeros(2), "present.0.key": k, "present.0.value": k * 2}
    pkv = get_past_key_values(res, None)
    assert set(pkv) == {"past_key_values.0.key", "past_key_values.0.value"}
    assert pkv["past_key_values.0.key"] is k


def test_get_past_key_values_optimum_encoder_reuse():
    # with an existing past, encoder slots keep the PREVIOUS tensors —
    # the optimum constant-output optimization (models.rb:481-487)
    old_enc = np.full((1, 2, 5, 4), 7.0)
    prev = {"past_key_values.0.encoder.key": old_enc}
    res = {
        "present.0.encoder.key": np.zeros((1, 2, 0, 4)),  # bogus constant
        "present.0.decoder.key": np.ones((1, 2, 6, 4)),
    }
    pkv = get_past_key_values(res, prev)
    assert pkv["past_key_values.0.encoder.key"] is old_enc
    assert pkv["past_key_values.0.decoder.key"].shape == (1, 2, 6, 4)


def test_get_attentions_indexes_by_layer():
    a0, a1, c0 = np.zeros(1), np.ones(1), np.full(1, 2.0)
    res = {
        "decoder_attentions.1": a1,
        "decoder_attentions.0": a0,
        "cross_attentions.0": c0,
        "logits": np.zeros(2),
    }
    attns = get_attentions(res)
    assert attns["decoder_attentions"][0] is a0
    assert attns["decoder_attentions"][1] is a1
    assert attns["cross_attentions"] == [c0]


def test_empty_past_shapes_encoder_decoder():
    # the shapes the reference's commented-out OrtValue creation
    # describes (models.rb:515-525): [batch, heads, 0, dim_kv]
    feeds = empty_past_key_values(
        batch_size=2,
        is_encoder_decoder=True,
        num_decoder_layers=2,
        num_decoder_heads=8,
        decoder_dim_kv=64,
        num_encoder_heads=4,
        encoder_dim_kv=32,
    )
    assert len(feeds) == 2 * 4
    assert feeds["past_key_values.0.decoder.key"].shape == (2, 8, 0, 64)
    assert feeds["past_key_values.1.encoder.value"].shape == (2, 4, 0, 32)
    assert feeds["past_key_values.0.decoder.key"].dtype == np.float32


def test_empty_past_shapes_decoder_only():
    feeds = empty_past_key_values(batch_size=1, num_layers=3, num_heads=12, dim_kv=64)
    assert len(feeds) == 3 * 2
    assert feeds["past_key_values.2.value"].shape == (1, 12, 0, 64)


def test_add_past_key_values_merges_or_seeds():
    past = {"past_key_values.0.key": np.ones((1, 2, 4, 8))}
    feeds = add_past_key_values({"input_ids": np.zeros((1, 1))}, past)
    assert feeds["past_key_values.0.key"] is past["past_key_values.0.key"]
    feeds2 = add_past_key_values({}, None, batch_size=1, num_layers=1, num_heads=2, dim_kv=8)
    assert feeds2["past_key_values.0.key"].shape == (1, 2, 0, 8)


def test_cut_input_ids_for_cache():
    # after step 0 only the last token is fed (models.rb:607-612)
    assert cut_input_ids_for_cache([3, 5, 9], has_past=True) == [9]
    assert cut_input_ids_for_cache([3, 5, 9], has_past=False) == [3, 5, 9]


def test_kv_dims_from_config_per_family():
    t5 = kv_dims_from_config(
        {"model_type": "t5", "num_decoder_layers": 6, "num_heads": 8, "d_kv": 64}
    )
    assert t5 == {
        "is_encoder_decoder": True,
        "num_decoder_layers": 6,
        "num_decoder_heads": 8,
        "decoder_dim_kv": 64,
        "num_encoder_heads": 8,
        "encoder_dim_kv": 64,
    }
    bart = kv_dims_from_config(
        {
            "model_type": "bart",
            "decoder_layers": 12,
            "decoder_attention_heads": 16,
            "encoder_attention_heads": 16,
            "d_model": 1024,
        }
    )
    assert bart["decoder_dim_kv"] == 64 and bart["num_decoder_layers"] == 12
    gpt2 = kv_dims_from_config(
        {"model_type": "gpt2", "n_head": 12, "n_layer": 12, "n_embd": 768}
    )
    assert gpt2 == {
        "is_encoder_decoder": False,
        "num_layers": 12,
        "num_heads": 12,
        "dim_kv": 64,
    }
    with pytest.raises(ValueError):
        kv_dims_from_config({"model_type": "bert"})


# --- mocked-session forwards ----------------------------------------------


def _decoder_only_session(vocab=5, heads=2, dim=4):
    """A fake merged decoder: logits = position-count ramp; present K/V =
    past K/V extended by one step, so cache growth is observable."""

    def run(feed):
        ids = feed["input_ids"]
        b, s = ids.shape
        past_k = feed["past_key_values.0.key"]
        past_len = past_k.shape[2]
        total = past_len + s
        logits = np.tile(np.arange(vocab, dtype=np.float32) * total, (b, s, 1))
        new_k = np.concatenate(
            [past_k, np.ones((b, heads, s, dim), np.float32)], axis=2
        )
        return [logits, new_k, new_k * 2]

    return FakeSession(
        [
            "input_ids",
            "attention_mask",
            "use_cache_branch",
            "past_key_values.0.key",
            "past_key_values.0.value",
        ],
        ["logits", "present.0.key", "present.0.value"],
        run,
    )


def test_decoder_forward_two_steps_grows_cache():
    sess = _decoder_only_session()
    dims = {"batch_size": 1, "num_layers": 1, "num_heads": 2, "dim_kv": 4}
    out1 = decoder_forward(sess, {"input_ids": [[3, 5]]}, dims=dims)
    # first step: use_cache_branch False, zero-length past fed
    assert sess.last_feed["use_cache_branch"][0] == np.False_
    assert out1["past_key_values"]["past_key_values.0.key"].shape == (1, 2, 2, 4)
    # second step: feed ONLY the new token + the returned past
    out2 = decoder_forward(
        sess,
        {"input_ids": [[7]], "past_key_values": out1["past_key_values"]},
        dims=dims,
    )
    assert sess.last_feed["use_cache_branch"][0] == np.True_
    assert sess.last_feed["past_key_values.0.key"].shape == (1, 2, 2, 4)
    assert out2["past_key_values"]["past_key_values.0.key"].shape == (1, 2, 3, 4)
    # logits reflect the full sequence length (2 past + 1 new)
    assert out2["logits"][0, -1, 1] == pytest.approx(3.0)


def _seq2seq_session():
    def run(feed):
        ids = feed["input_ids"]
        b, s = ids.shape
        enc = feed["encoder_hidden_states"]
        past_len = feed["past_key_values.0.decoder.key"].shape[2]
        logits = np.full((b, s, 4), float(past_len + s + enc.shape[1]), np.float32)
        dec_k = np.concatenate(
            [feed["past_key_values.0.decoder.key"], np.ones((b, 2, s, 4), np.float32)],
            axis=2,
        )
        enc_k = np.zeros((b, 2, enc.shape[1], 4), np.float32)
        return [logits, dec_k, dec_k, enc_k, enc_k]

    return FakeSession(
        [
            "input_ids",
            "encoder_hidden_states",
            "encoder_attention_mask",
            "use_cache_branch",
            "past_key_values.0.decoder.key",
            "past_key_values.0.decoder.value",
            "past_key_values.0.encoder.key",
            "past_key_values.0.encoder.value",
        ],
        [
            "logits",
            "present.0.decoder.key",
            "present.0.decoder.value",
            "present.0.encoder.key",
            "present.0.encoder.value",
        ],
        run,
    )


def test_seq2seq_forward_encoder_once_and_cache():
    sess = _seq2seq_session()
    dims = {
        "batch_size": 1,
        "is_encoder_decoder": True,
        "num_decoder_layers": 1,
        "num_decoder_heads": 2,
        "decoder_dim_kv": 4,
        "num_encoder_heads": 2,
        "encoder_dim_kv": 4,
    }
    calls = []

    def encoder_forward(mi):
        calls.append(1)
        return np.ones((1, 3, 8), np.float32)  # [B, src_len, D]

    mi = {
        "input_ids": [[1, 2, 3]],
        "attention_mask": [[1, 1, 1]],
        "decoder_input_ids": [[0]],
    }
    out1 = seq2seq_forward(sess, mi, dims=dims, encoder_forward=encoder_forward)
    assert calls == [1]
    assert out1["past_key_values"]["past_key_values.0.decoder.key"].shape == (1, 2, 1, 4)
    # step 2: pass encoder_outputs + past back in; encoder NOT recomputed
    mi2 = {
        "input_ids": [[1, 2, 3]],
        "attention_mask": [[1, 1, 1]],
        "decoder_input_ids": [[2]],
        "encoder_outputs": out1["encoder_outputs"],
        "past_key_values": out1["past_key_values"],
    }
    out2 = seq2seq_forward(sess, mi2, dims=dims, encoder_forward=encoder_forward)
    assert calls == [1]
    assert out2["past_key_values"]["past_key_values.0.decoder.key"].shape == (1, 2, 2, 4)
    # encoder past slots reuse the PREVIOUS tensors (optimum path)
    assert (
        out2["past_key_values"]["past_key_values.0.encoder.key"]
        is out1["past_key_values"]["past_key_values.0.encoder.key"]
    )
    assert out2["cross_attentions"] == []


def test_session_run_named_feeds_declared_inputs_only():
    # the declared-inputs-only feed + missing-input error the reference's
    # encoder_forward/session_run contract implies (models.rb:653-663)
    sess = FakeSession(["a", "b"], ["out"], lambda feed: [feed["a"] + feed["b"]])
    out = session_run_named(sess, {"a": 1, "b": 2, "extra": 99})
    assert out == {"out": 3}
    assert "extra" not in sess.last_feed
    with pytest.raises(RuntimeError, match="expects inputs"):
        session_run_named(sess, {"a": 1})


def test_position_ids_raises_like_upstream_todo():
    sess = FakeSession(
        ["input_ids", "attention_mask", "position_ids"], ["logits"], lambda f: [None]
    )
    with pytest.raises(NotImplementedError, match="position_ids"):
        decoder_forward(sess, {"input_ids": [[1]]}, dims={"batch_size": 1})


def test_greedy_generate_ids_decoder_only_cache_path():
    from informers_spark.backend.kv_cache import greedy_generate_ids

    sess = _decoder_only_session(vocab=5)
    dims = {"batch_size": 1, "num_layers": 1, "num_heads": 2, "dim_kv": 4}
    feeds = []
    orig_run = sess._run_fn

    def spy(feed):
        feeds.append({k: np.asarray(v).shape for k, v in feed.items()})
        return orig_run(feed)

    sess._run_fn = spy
    out = greedy_generate_ids(
        sess, [3, 5], max_new_tokens=3, eos_token_id=None, dims=dims
    )
    # ramp logits always argmax to the top vocab id
    assert out == [3, 5, 4, 4, 4]
    # step 0 feeds the full prompt; later steps feed ONE token + past
    assert feeds[0]["input_ids"] == (1, 2)
    assert feeds[1]["input_ids"] == (1, 1)
    assert feeds[2]["input_ids"] == (1, 1)
    # full-length attention mask every step (decoder_run_beam semantics)
    assert feeds[1]["attention_mask"] == (1, 3)
    assert feeds[2]["attention_mask"] == (1, 4)
    # cache grows: past len 0 -> 2 -> 3
    assert feeds[0]["past_key_values.0.key"] == (1, 2, 0, 4)
    assert feeds[1]["past_key_values.0.key"] == (1, 2, 2, 4)
    assert feeds[2]["past_key_values.0.key"] == (1, 2, 3, 4)


def test_greedy_generate_ids_seq2seq_stops_on_eos():
    from informers_spark.backend.kv_cache import greedy_generate_ids

    sess = _seq2seq_session()
    dims = {
        "batch_size": 1,
        "is_encoder_decoder": True,
        "num_decoder_layers": 1,
        "num_decoder_heads": 2,
        "decoder_dim_kv": 4,
        "num_encoder_heads": 2,
        "encoder_dim_kv": 4,
    }
    calls = []

    def encoder_forward(mi):
        calls.append(1)
        return np.ones((1, 3, 8), np.float32)

    # constant logits -> argmax is token 0 every step; eos=0 stops at once
    out = greedy_generate_ids(
        sess,
        [1, 2, 3],
        max_new_tokens=5,
        eos_token_id=0,
        decoder_start_token_id=2,
        is_seq2seq=True,
        dims=dims,
        encoder_forward=encoder_forward,
    )
    assert out == [2, 0]
    assert calls == [1]  # encoder ran exactly once
