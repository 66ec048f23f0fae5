"""Model config.json parsing — model_type and labels, as the reference's
AutoConfig reads them (lib/informers/configs.rb:19-42), plus the
model_type → pad preset map the vision preprocessing picks by.

Separate from onnx_backend so it imports (and unit-tests) without the
onnxruntime wheel.
"""

from __future__ import annotations

# model_type → named pad preset (the per-model pad_image overrides the
# reference implements as FeatureExtractor subclasses: Swin2SR
# processors.rb:369-391, Donut :393-420, DETR pixel_mask :422-444).
# Implementations: functions/vision.py swin2sr_pad / donut_pad /
# detr_pixel_mask; preprocessing call sites pick by model_type here.
PAD_PRESETS = {
    "swin2sr": "swin2sr",
    "donut": "donut",
    "donut-swin": "donut",
    "detr": "detr",
    "table-transformer": "detr",
}


def pad_preset_for_model_type(model_type: str | None) -> str | None:
    """Named pad preset for a model_type, None for the generic
    ImageFeatureExtractor pad path (processors.rb:67-145)."""
    return PAD_PRESETS.get(model_type) if model_type else None


def parse_model_config(config: dict) -> dict:
    """→ {model_type, id2label (index-ordered list | None), label2id}.

    JSON id2label keys are strings ("0", "1", …); order by integer index,
    never lexicographically (">9 labels" would interleave otherwise).
    """
    id2label = config.get("id2label")
    labels = None
    if id2label:
        labels = [id2label[k] for k in sorted(id2label, key=lambda s: int(s))]
    return {
        "model_type": config.get("model_type"),
        "id2label": labels,
        "label2id": config.get("label2id") or {},
    }
