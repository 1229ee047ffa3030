"""OcrEngine: the one-image OCR pipeline (numpy, Spark-free).

Counterpart of ``ocrs/src/lib.rs:130-300``: prepare_input -> detect_words
-> find_text_lines -> recognize_text -> get_text. This object is what the
Spark pipeline instantiates once per executor (lazy singleton) and drives
per Arrow batch inside ``mapInPandas``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .geometry import RotatedRect
from .kernels.detection import TextDetector
from .kernels.layout import find_text_lines
from .kernels.recognition import (
    TextLine,
    TextRecognizer,
    excluded_labels_for_allowed_chars,
    format_text_output,
)
from .kernels.preprocess import prepare_image
from .models import DEFAULT_ALPHABET, Model


@dataclass
class OcrEngineParams:
    detection_model: Model | None = None
    recognition_model: Model | None = None
    alphabet: str = DEFAULT_ALPHABET
    allowed_chars: str | None = None
    beam_width: int | None = None  # None = greedy decode (the default)
    detection_params: dict = field(default_factory=dict)


class OcrEngine:
    def __init__(self, params: OcrEngineParams):
        self.detector = (
            TextDetector(params.detection_model, **params.detection_params)
            if params.detection_model
            else None
        )
        self.recognizer = (
            TextRecognizer(params.recognition_model) if params.recognition_model else None
        )
        self.alphabet = params.alphabet
        self.beam_width = params.beam_width
        self.excluded_char_labels = (
            excluded_labels_for_allowed_chars(self.alphabet, params.allowed_chars)
            if params.allowed_chars is not None
            else None
        )

    def prepare_input(self, image: np.ndarray, chw: bool = False) -> np.ndarray:
        """(H, W[, C]) or (C, H, W) image -> normalized (H, W) greyscale."""
        return prepare_image(image, chw=chw)

    def detect_words(self, grey: np.ndarray) -> list[RotatedRect]:
        if self.detector is None:
            raise RuntimeError("Detection model not loaded")
        return self.detector.detect_words(grey)

    def detect_text_pixels(self, grey: np.ndarray) -> np.ndarray:
        if self.detector is None:
            raise RuntimeError("Detection model not loaded")
        return self.detector.detect_text_pixels(grey)

    def find_text_lines(self, words: list[RotatedRect]) -> list[list[RotatedRect]]:
        return find_text_lines(words)

    def prepare_recognition_input(self, grey: np.ndarray, line) -> np.ndarray:
        """Debug API: the preprocessed line image fed to the recognition
        model (lib.rs:268-278)."""
        if self.recognizer is None:
            raise RuntimeError("Recognition model not loaded")
        return self.recognizer.prepare_line_input(grey, line)

    def recognize_text(
        self, grey: np.ndarray, lines: list[list[RotatedRect]]
    ) -> list[TextLine | None]:
        if self.recognizer is None:
            raise RuntimeError("Recognition model not loaded")
        return self.recognizer.recognize_text_lines(
            grey,
            lines,
            alphabet=self.alphabet,
            excluded_char_labels=self.excluded_char_labels,
            beam_width=self.beam_width,
        )

    def get_text(self, grey: np.ndarray) -> str:
        """Full-image text extraction (lib.rs:290-300): detected words ->
        reading-order lines -> recognized text joined by newline."""
        words = self.detect_words(grey)
        lines = self.find_text_lines(words)
        recognized = self.recognize_text(grey, lines)
        return format_text_output(recognized)
