"""Pure-numpy LLaMA encoder (HF ``LlamaModel`` layout) — covers the
reference RelCAT's llama variant
(/root/reference/medcat/utils/relation_extraction/llama/model.py:14-205)
the same way functions/bert_np.py covers the BERT variant.

Implements the published LLaMA architecture (Touvron et al. 2023; HF
parameter naming): RMSNorm pre-norm blocks, rotary position embeddings,
grouped-query attention (``num_key_value_heads``), SwiGLU MLP, causal +
padding masking, final ``model.norm``.  Weights load from torch zip
checkpoints via sources/torch_pickle.py — no torch, no transformers.

The RelCAT head is the same create_dense_layers stack as BERT's
(fc1→fc2→fc3) over concat(pooled, e1, e2), where pooled =
tanh(dense(first token)) (LlamaPooler, llama/model.py:190-205).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import numpy as np

from medcat_spark.functions.bert_np import _RelCatHead, softmax


def rms_norm(x: np.ndarray, w: np.ndarray, eps: float = 1e-6) -> np.ndarray:
    return x / np.sqrt((x * x).mean(axis=-1, keepdims=True) + eps) * w


def silu(x: np.ndarray) -> np.ndarray:
    return x / (1.0 + np.exp(-x))


def rope_tables(L: int, dh: int, theta: float = 10000.0):
    """HF LlamaRotaryEmbedding: cos/sin of pos ⊗ inv_freq, duplicated."""
    inv = 1.0 / theta ** (np.arange(0, dh, 2, dtype=np.float64) / dh)
    freqs = np.outer(np.arange(L, dtype=np.float64), inv)   # (L, dh/2)
    emb = np.concatenate([freqs, freqs], axis=-1)            # (L, dh)
    return np.cos(emb), np.sin(emb)


def rotate_half(x: np.ndarray) -> np.ndarray:
    h = x.shape[-1] // 2
    return np.concatenate([-x[..., h:], x[..., :h]], axis=-1)


class LlamaLayer:
    def __init__(self, p: Dict[str, np.ndarray], n_heads: int,
                 n_kv_heads: int) -> None:
        self.q = p["self_attn.q_proj.weight"]
        self.k = p["self_attn.k_proj.weight"]
        self.v = p["self_attn.v_proj.weight"]
        self.o = p["self_attn.o_proj.weight"]
        self.gate = p["mlp.gate_proj.weight"]
        self.up = p["mlp.up_proj.weight"]
        self.down = p["mlp.down_proj.weight"]
        self.ln1 = p["input_layernorm.weight"]
        self.ln2 = p["post_attention_layernorm.weight"]
        self.n_heads = n_heads
        self.n_kv_heads = n_kv_heads

    def forward(self, x: np.ndarray, mask: np.ndarray,
                cos: np.ndarray, sin: np.ndarray) -> np.ndarray:
        B, L, H = x.shape
        nh, nkv = self.n_heads, self.n_kv_heads
        dh = self.q.shape[0] // nh

        h = rms_norm(x, self.ln1)

        def split(t, n):
            return t.reshape(B, L, n, dh).transpose(0, 2, 1, 3)

        q = split(h @ self.q.T, nh)
        k = split(h @ self.k.T, nkv)
        v = split(h @ self.v.T, nkv)
        q = q * cos + rotate_half(q) * sin
        k = k * cos + rotate_half(k) * sin
        if nkv != nh:                       # grouped-query: repeat kv
            rep = nh // nkv
            k = np.repeat(k, rep, axis=1)
            v = np.repeat(v, rep, axis=1)
        scores = q @ k.transpose(0, 1, 3, 2) / np.sqrt(dh)
        scores = scores + mask              # causal + padding, additive
        ctx = softmax(scores) @ v
        ctx = ctx.transpose(0, 2, 1, 3).reshape(B, L, nh * dh)
        x = x + ctx @ self.o.T
        h2 = rms_norm(x, self.ln2)
        return x + (silu(h2 @ self.gate.T) * (h2 @ self.up.T)) @ self.down.T


class LlamaEncoder:
    def __init__(self, embed: np.ndarray, layers: List[LlamaLayer],
                 final_norm: np.ndarray, n_heads: int,
                 rope_theta: float = 10000.0) -> None:
        self.embed = embed
        self.layers = layers
        self.final_norm = final_norm
        self.n_heads = n_heads
        self.rope_theta = rope_theta

    @classmethod
    def from_state_dict(cls, sd: Dict[str, np.ndarray], n_heads: int,
                        n_kv_heads: Optional[int] = None,
                        prefix: str = "", rope_theta: float = 10000.0
                        ) -> "LlamaEncoder":
        f64 = {k[len(prefix):]: np.asarray(v, dtype=np.float64)
               for k, v in sd.items() if k.startswith(prefix)}
        if "model.embed_tokens.weight" in f64:   # HF top-level layout
            f64 = {k[len("model."):]: v for k, v in f64.items()
                   if k.startswith("model.")}
        if "embed_tokens.weight" not in f64:
            raise ValueError("no embed_tokens.weight under prefix "
                             f"{prefix!r} — not a LLaMA state dict")
        if n_kv_heads is None:
            # infer from shapes: k_proj rows / head_dim
            q_rows = f64["layers.0.self_attn.q_proj.weight"].shape[0]
            k_rows = f64["layers.0.self_attn.k_proj.weight"].shape[0]
            n_kv_heads = max(1, n_heads * k_rows // q_rows)
        layers: List[LlamaLayer] = []
        i = 0
        while f"layers.{i}.self_attn.q_proj.weight" in f64:
            p = {k[len(f"layers.{i}."):]: v for k, v in f64.items()
                 if k.startswith(f"layers.{i}.")}
            layers.append(LlamaLayer(p, n_heads, n_kv_heads))
            i += 1
        if not layers:
            raise ValueError("no layers.0.* in LLaMA state dict")
        return cls(f64["embed_tokens.weight"], layers, f64["norm.weight"],
                   n_heads, rope_theta)

    def forward(self, input_ids: np.ndarray,
                attention_mask: Optional[np.ndarray] = None) -> np.ndarray:
        ids = np.asarray(input_ids, dtype=np.int64)
        B, L = ids.shape
        if attention_mask is None:
            attention_mask = np.ones((B, L))
        x = self.embed[ids]
        dh = self.layers[0].q.shape[0] // self.n_heads
        cos, sin = rope_tables(L, dh, self.rope_theta)
        cos = cos[None, None, :, :]          # (1, 1, L, dh)
        sin = sin[None, None, :, :]
        causal = np.triu(np.full((L, L), -1e9), k=1)[None, None, :, :]
        pad = (1.0 - np.asarray(attention_mask, dtype=np.float64)
               )[:, None, None, :] * -1e9
        mask = causal + pad
        for layer in self.layers:
            x = layer.forward(x, mask, cos, sin)
        return rms_norm(x, self.final_norm)


class RelCatLlamaModel(_RelCatHead):
    """LlamaModel_RelationExtraction forward (llama/model.py:58-115):
    the shared pair head over the Llama encoder, led by the
    tanh-pooler output of the first token.

    With tag ids the concat includes that pooler output only when
    ``llama_use_pooled_output`` is True (config_rel_cat.py:125, default
    False → concat(t1, t2) alone); without tag ids it is always
    concat(pooled, e1 state, e2 state).  ``use_pooled_output`` is
    inferred from fc1's input width when the config doesn't say."""

    def __init__(self, encoder: LlamaEncoder, fc: Dict[str, np.ndarray],
                 labels: List[str]) -> None:
        super().__init__(encoder, fc, labels)
        self.pool_w = fc["llama_pooler.dense.weight"]
        self.pool_b = fc["llama_pooler.dense.bias"]
        # fc1 input = 3*hidden when the pooler vector joins the concat,
        # 2*hidden when only the two tag pools do (reference default)
        hidden = encoder.embed.shape[1]
        self.use_pooled_output = self.fc1_w.shape[1] >= 3 * hidden

    @property
    def tag_lead(self) -> bool:
        return self.use_pooled_output

    @classmethod
    def from_state_dict(cls, sd: Dict[str, np.ndarray], labels: List[str],
                        n_heads: int, n_kv_heads: Optional[int] = None
                        ) -> "RelCatLlamaModel":
        prefix = "hf_model." if any(k.startswith("hf_model.") for k in sd) \
            else ""
        enc = LlamaEncoder.from_state_dict(sd, n_heads, n_kv_heads,
                                           prefix=prefix)
        fc = {k: np.asarray(v, dtype=np.float64) for k, v in sd.items()
              if k.startswith(("fc1.", "fc2.", "fc3.", "llama_pooler."))}
        return cls(enc, fc, labels)

    def _encode(self, input_ids, attention_mask, tape=None):
        if tape is not None:
            raise NotImplementedError("the Llama RelCAT head has no trainer")
        seq = self.encoder.forward(input_ids, attention_mask)
        return seq, np.tanh(seq[:, 0] @ self.pool_w.T + self.pool_b)


def llama_fixture_state_dict(vocab_size: int = 64, hidden: int = 8,
                             n_layers: int = 2, n_heads: int = 2,
                             n_kv_heads: int = 1, inter: int = 16,
                             nclasses: int = 3, seed: int = 37
                             ) -> Dict[str, np.ndarray]:
    """Tiny deterministic checkpoint in the RelCAT-llama key layout
    (hf_model.model.* + llama_pooler + fc1-3), with grouped-query
    attention (n_kv_heads < n_heads) so the repeat path is exercised."""
    rs = np.random.RandomState(seed)
    dh = hidden // n_heads

    def r(*shape):
        return np.round(rs.uniform(-0.5, 0.5, size=shape),
                        4).astype(np.float32)

    sd: Dict[str, np.ndarray] = {
        "hf_model.model.embed_tokens.weight": r(vocab_size, hidden),
        "hf_model.model.norm.weight": np.ones(hidden, dtype=np.float32)}
    for i in range(n_layers):
        lp = f"hf_model.model.layers.{i}."
        sd[lp + "self_attn.q_proj.weight"] = r(n_heads * dh, hidden)
        sd[lp + "self_attn.k_proj.weight"] = r(n_kv_heads * dh, hidden)
        sd[lp + "self_attn.v_proj.weight"] = r(n_kv_heads * dh, hidden)
        sd[lp + "self_attn.o_proj.weight"] = r(hidden, n_heads * dh)
        sd[lp + "mlp.gate_proj.weight"] = r(inter, hidden)
        sd[lp + "mlp.up_proj.weight"] = r(inter, hidden)
        sd[lp + "mlp.down_proj.weight"] = r(hidden, inter)
        sd[lp + "input_layernorm.weight"] = np.ones(hidden,
                                                    dtype=np.float32)
        sd[lp + "post_attention_layernorm.weight"] = \
            np.ones(hidden, dtype=np.float32)
    sd["llama_pooler.dense.weight"] = r(hidden, hidden)
    sd["llama_pooler.dense.bias"] = r(hidden)
    h2 = 12
    sd["fc1.weight"] = r(h2, 3 * hidden)
    sd["fc1.bias"] = r(h2)
    sd["fc2.weight"] = r(h2 // 2, h2)
    sd["fc2.bias"] = r(h2 // 2)
    sd["fc3.weight"] = r(nclasses, h2 // 2)
    sd["fc3.bias"] = r(nclasses)
    return sd
