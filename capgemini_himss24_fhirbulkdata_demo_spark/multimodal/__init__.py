"""Multimodal media codecs.

``binary`` holds the pure-stdlib WAV, GIF, PNG, PNM and lossless-JPEG
encoders and decoders that the registered queries in
``queries/multimodal.py`` run inside ``mapInPandas``.
"""
