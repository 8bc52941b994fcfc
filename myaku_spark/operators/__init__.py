"""Relational + custom operators: posting-list build, scoring, BM25/WAND
top-k, posting codec, segment write, phrase, fuzzy and prefix lookup,
media features."""
