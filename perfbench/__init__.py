"""The repository's benchmark: HTTP search serving and batch curation,
measured from outside the program. See perfbench/README.md."""
