"""KV-cache decoder plumbing: the pure-function core of the reference's
decoder_forward / seq2seq_forward (lib/informers/models.rb:429-463,
:473-539, :605-634, :665-689), kept free of any onnxruntime import so
the cache transforms are unit-testable offline with fabricated arrays
(tests/test_kv_cache.py). Nothing in the package calls it yet:
OnnxBackend loads one encoder session and has no generation path, so
this module is the tested core for wiring ONNX generation once the
onnxruntime/tokenizers wheels and a decoder checkpoint are available.

Sessions are duck-typed to the onnxruntime API surface actually used:
`get_inputs()` / `get_outputs()` returning objects with `.name`, and
`run(output_names, feeds)`.
"""

from __future__ import annotations

import numpy as np


def kv_dims_from_config(config: dict) -> dict:
    """Derive the zero-length-past shapes from a model config, per model
    family (reference model constructors: T5 models.rb:890-904 uses
    num_decoder_layers/num_heads/d_kv; Bart/MBart/M2M100 models.rb:
    913-926, :942-956, :966-978 use decoder_layers/
    decoder_attention_heads/d_model÷heads; GPT2-style decoder-only
    models.rb:1048-1060 uses n_layer/n_head/n_embd÷n_head)."""
    mt = config.get("model_type")
    if mt == "t5":
        return {
            "is_encoder_decoder": True,
            "num_decoder_layers": config["num_decoder_layers"],
            "num_decoder_heads": config["num_heads"],
            "decoder_dim_kv": config["d_kv"],
            "num_encoder_heads": config["num_heads"],
            "encoder_dim_kv": config["d_kv"],
        }
    if mt in ("bart", "mbart", "m2m_100", "marian", "whisper", "nllb"):
        dec_heads = config["decoder_attention_heads"]
        enc_heads = config["encoder_attention_heads"]
        return {
            "is_encoder_decoder": True,
            "num_decoder_layers": config["decoder_layers"],
            "num_decoder_heads": dec_heads,
            "decoder_dim_kv": config["d_model"] // dec_heads,
            "num_encoder_heads": enc_heads,
            "encoder_dim_kv": config["d_model"] // enc_heads,
        }
    if mt in ("gpt2", "gpt_neo", "gptj", "codegen"):
        heads = config.get("n_head") or config.get("num_heads")
        embd = config.get("n_embd") or config.get("hidden_size")
        return {
            "is_encoder_decoder": False,
            "num_layers": config.get("n_layer") or config.get("num_layers"),
            "num_heads": heads,
            "dim_kv": embd // heads,
        }
    raise ValueError(f"no KV-cache dim rule for model_type {mt!r}")


def session_input_names(session) -> list[str]:
    return [i.name for i in session.get_inputs()]


def session_output_names(session) -> list[str]:
    return [o.name for o in session.get_outputs()]


def session_run_named(session, feeds: dict) -> dict:
    """run + zip outputs to names (reference session_run then
    `outputs.map { name }.zip(results).to_h`, models.rb:444-445,
    :684-685); feeds only the session's declared inputs
    (models.rb:653-663)."""
    names = session_input_names(session)
    feed = {k: v for k, v in feeds.items() if k in names}
    missing = set(names) - set(feed)
    if missing:
        raise RuntimeError(f"session expects inputs {sorted(missing)}")
    return dict(zip(session_output_names(session), session.run(None, feed)))


def get_past_key_values(decoder_results: dict, past_key_values: dict | None) -> dict:
    """present.* outputs → past_key_values.* feeds for the next step
    (reference models.rb:473-491). With an existing past, encoder
    present slots are replaced by the PREVIOUS past — the optimum
    optimization the reference cites (encoder KV never changes after
    step 0, so merged decoders emit constants there)."""
    pkvs = {}
    for name, value in decoder_results.items():
        if name.startswith("present"):
            new_name = name.replace("present", "past_key_values", 1)
            if past_key_values and "encoder" in name:
                pkvs[new_name] = past_key_values[new_name]
            else:
                pkvs[new_name] = value
    return pkvs


def get_attentions(decoder_results: dict) -> dict:
    """Collect cross/decoder attention outputs indexed by their trailing
    layer number (reference models.rb:493-506)."""
    attns: dict = {}
    for attn_name in ("cross_attentions", "decoder_attentions"):
        result: list = []
        for name in decoder_results:
            if name.startswith(attn_name):
                index = int(name.split(".")[-1])
                while len(result) <= index:
                    result.append(None)
                result[index] = decoder_results[name]
        attns[attn_name] = result
    return attns


def empty_past_key_values(
    *,
    batch_size: int = 1,
    is_encoder_decoder: bool = False,
    num_layers: int = 0,
    num_heads: int = 0,
    dim_kv: int = 0,
    num_decoder_layers: int | None = None,
    num_decoder_heads: int | None = None,
    decoder_dim_kv: int | None = None,
    num_encoder_heads: int | None = None,
    encoder_dim_kv: int | None = None,
    dtype=np.float32,
) -> dict:
    """Zero-length past tensors for the first (use_cache_branch=false)
    step. The reference's add_past_key_values computes exactly these
    shapes ([batch, heads, 0, dim_kv]) but leaves the OrtValue creation
    commented out (models.rb:508-539) — onnxruntime requires every
    declared input, so the working equivalent is feeding the
    zero-seq-length tensors those comments describe."""
    feeds: dict = {}
    if is_encoder_decoder:
        e_dims = (batch_size, num_encoder_heads, 0, encoder_dim_kv)
        d_dims = (batch_size, num_decoder_heads, 0, decoder_dim_kv)
        for i in range(num_decoder_layers or 0):
            feeds[f"past_key_values.{i}.encoder.key"] = np.zeros(e_dims, dtype=dtype)
            feeds[f"past_key_values.{i}.encoder.value"] = np.zeros(e_dims, dtype=dtype)
            feeds[f"past_key_values.{i}.decoder.key"] = np.zeros(d_dims, dtype=dtype)
            feeds[f"past_key_values.{i}.decoder.value"] = np.zeros(d_dims, dtype=dtype)
    else:
        dims = (batch_size, num_heads, 0, dim_kv)
        for i in range(num_layers):
            feeds[f"past_key_values.{i}.key"] = np.zeros(dims, dtype=dtype)
            feeds[f"past_key_values.{i}.value"] = np.zeros(dims, dtype=dtype)
    return feeds


def add_past_key_values(decoder_feeds: dict, past_key_values: dict | None, **dims) -> dict:
    """Merge the running past into the feeds, or seed zero-length
    tensors on the first step (reference models.rb:508-539)."""
    if past_key_values:
        decoder_feeds.update(past_key_values)
    else:
        decoder_feeds.update(empty_past_key_values(**dims))
    return decoder_feeds


def cut_input_ids_for_cache(output_token_ids: list[int], has_past: bool) -> list[int]:
    """With a cache, only the LAST token is fed each step (reference
    seq2seq_run_beam, models.rb:607-612)."""
    return [output_token_ids[-1]] if has_past else list(output_token_ids)


def greedy_generate_ids(
    session,
    input_ids: list[int],
    *,
    max_new_tokens: int = 20,
    eos_token_id: int | None = None,
    dims: dict | None = None,
    procs=(),
    is_seq2seq: bool = False,
    decoder_start_token_id: int | None = None,
    attention_mask: list[int] | None = None,
    encoder_forward=None,
) -> list[int]:
    """The generate loop routed through the KV-cache path (reference
    models.rb:214-349 specialised to num_beams=1): step 0 feeds the full
    prompt (decoder-only) or the start token (seq2seq), every later step
    feeds ONLY the new token plus the running past
    (cut_input_ids_for_cache) with a full-length attention mask
    (decoder_run_beam, models.rb:730-747). Session-injected so fake
    sessions can drive it offline."""
    if is_seq2seq:
        start = (
            decoder_start_token_id if decoder_start_token_id is not None else eos_token_id
        )
        output_token_ids = [start]
    else:
        output_token_ids = list(input_ids)
    prev = None
    for _ in range(max_new_tokens):
        if is_seq2seq:
            model_inputs = {
                "input_ids": [input_ids],
                "attention_mask": [
                    attention_mask if attention_mask is not None else [1] * len(input_ids)
                ],
                "decoder_input_ids": [
                    cut_input_ids_for_cache(output_token_ids, prev is not None)
                ],
                "encoder_outputs": prev and prev.get("encoder_outputs"),
                "past_key_values": prev and prev.get("past_key_values"),
            }
            out = seq2seq_forward(
                session, model_inputs, dims=dims, encoder_forward=encoder_forward
            )
        else:
            model_inputs = {
                "input_ids": [cut_input_ids_for_cache(output_token_ids, prev is not None)],
                "attention_mask": [[1] * len(output_token_ids)],
                "past_key_values": prev and prev.get("past_key_values"),
            }
            out = decoder_forward(session, model_inputs, dims=dims)
        prev = out
        logits = np.asarray(out["logits"], dtype=np.float64)[0, -1]
        for p in procs:
            logits = p(output_token_ids, logits)
        token = int(np.argmax(logits))  # GreedySampler, generation.rb:119-131
        output_token_ids.append(token)
        if eos_token_id is not None and token == eos_token_id:
            break
    return output_token_ids


def decoder_forward(session, model_inputs: dict, dims: dict | None = None) -> dict:
    """Decoder-only forward with KV cache (reference models.rb:665-689):
    feeds input_ids/attention_mask (+use_cache_branch when declared),
    merges past or zero-length seeds, runs, and returns
    {"logits", "past_key_values"}."""
    input_ids = np.asarray(model_inputs["input_ids"], dtype=np.int64)
    past_key_values = model_inputs.get("past_key_values")
    attention_mask = model_inputs.get("attention_mask")
    if attention_mask is None:
        attention_mask = np.ones_like(input_ids)  # prepare_attention_mask, models.rb:587-603
    decoder_feeds = {
        "input_ids": input_ids,
        "attention_mask": np.asarray(attention_mask, dtype=np.int64),
    }
    use_cache_branch = bool(past_key_values)
    input_names = session_input_names(session)
    if "use_cache_branch" in input_names:
        decoder_feeds["use_cache_branch"] = np.array([use_cache_branch])
    if "position_ids" in input_names:
        # prepare_position_ids raises Todo upstream (models.rb:465-471)
        raise NotImplementedError(
            "position_ids input: raises Todo upstream (models.rb:465-471)"
        )
    add_past_key_values(decoder_feeds, past_key_values, **(dims or {}))
    decoder_results = session_run_named(session, decoder_feeds)
    return {
        "logits": decoder_results["logits"],
        "past_key_values": get_past_key_values(decoder_results, past_key_values),
    }


def seq2seq_forward(
    decoder_session,
    model_inputs: dict,
    dims: dict | None = None,
    encoder_forward=None,
) -> dict:
    """Encoder-once + cached decoder steps (reference models.rb:429-463):
    computes encoder_outputs on the first call only, feeds
    decoder_input_ids + encoder_hidden_states (+use_cache_branch /
    encoder_attention_mask when declared), merges past, and returns
    {"logits", "past_key_values", "encoder_outputs", attentions}."""
    encoder_outputs = model_inputs.get("encoder_outputs")
    past_key_values = model_inputs.get("past_key_values")
    if encoder_outputs is None:
        if encoder_forward is None:
            raise ValueError("first step needs encoder_forward to compute encoder_outputs")
        encoder_outputs = encoder_forward(model_inputs)
    decoder_feeds = {
        "input_ids": np.asarray(model_inputs["decoder_input_ids"], dtype=np.int64),
        "encoder_hidden_states": encoder_outputs,
    }
    use_cache_branch = bool(past_key_values)
    input_names = session_input_names(decoder_session)
    if "use_cache_branch" in input_names:
        decoder_feeds["use_cache_branch"] = np.array([use_cache_branch])
    if "encoder_attention_mask" in input_names:
        decoder_feeds["encoder_attention_mask"] = np.asarray(
            model_inputs["attention_mask"], dtype=np.int64
        )
    if "position_ids" in input_names:
        raise NotImplementedError(
            "position_ids input: raises Todo upstream (models.rb:465-471)"
        )
    add_past_key_values(decoder_feeds, past_key_values, **(dims or {}))
    decoder_results = session_run_named(decoder_session, decoder_feeds)
    attns = get_attentions(decoder_results)
    return {
        "logits": decoder_results["logits"],
        "past_key_values": get_past_key_values(decoder_results, past_key_values),
        "encoder_outputs": encoder_outputs,
        "decoder_attentions": attns["decoder_attentions"],
        "cross_attentions": attns["cross_attentions"],
    }
