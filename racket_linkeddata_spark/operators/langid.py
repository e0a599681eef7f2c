"""Model-based language identification for training-data pipelines.

The oracle-anchored stopword heuristic (textstats.lang_id) covers 4
Latin-script languages; a real pipeline needs more. This module ships a
self-contained character-trigram model (Cavnar & Trenkle 1994,
"N-Gram-Based Text Categorization") trained once per process from small
embedded seed corpora, plus a Unicode-script tier for languages whose
script is decisive. No reference counterpart (the reference never does
text analysis); SURVEY.md LLM-pipeline extension, round-4 verdict #3.

Design (Spark-first):

- the classifier is a PURE PER-ROW function -> one Arrow-batched
  ``pandas_udf``, map-only, ZERO shuffle: the model (an inverted
  trigram -> [(lang, weight)] index, a few hundred KB) rides in the UDF
  closure, the task-side equivalent of a broadcast dict;
- only the first ``sample_chars`` code points are scored — language ID
  saturates in a few hundred chars, and unbounded per-doc work is what
  killed the column-algebra fingerprint op (substring on the JVM seeks
  by code point: O(len^2));
- every score is an INTEGER (rank weights, script char counts), so the
  whole model is exactly replicable in DuckDB SQL — the driver query
  ``text_langid_model`` is value-hash-checked, not rows-only.

Decision procedure per document (deterministic, engine-portable):

1. normalize: first ``sample_chars`` code points, lowercased,
   non-letters -> space;
2. script tier: if >= half the letters fall in a single-language
   script block, answer directly — ja (Han+kana, any kana present),
   zh (Han, no kana), ko (Hangul), ar (Arabic), he (Hebrew),
   th (Thai), hi (Devanagari), el (Greek);
3. trigram tier: score = sum over the document's character trigrams of
   ``count * (PROFILE_SIZE - rank)`` against each profiled language
   (Latin + Cyrillic); argmax, ties to the lexicographically smallest
   language code; zero total -> ``und``.
"""

from __future__ import annotations

from collections import Counter
from typing import Dict, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F

PROFILE_SIZE = 300
SAMPLE_CHARS = 400

# Seed corpora: a short passage of ordinary prose per language,
# authored for this module (everyday register so function words — the
# signal trigram profiles live on — dominate). Profiles are derived
# from these at import; swap in bigger corpora to retrain.
SEED_CORPORA: Dict[str, str] = {
    "en": ("The weather this morning was colder than we expected, so "
           "we stayed inside and read the newspaper while the coffee "
           "was brewing. Later in the afternoon the children walked to "
           "the library with their friends because they wanted to "
           "borrow some books about the history of the city and the "
           "people who lived there many years ago. It is often said "
           "that the best way to learn something new is to teach it to "
           "someone else, and that the questions we ask matter more "
           "than the answers we think we already have."),
    "de": ("Das Wetter war heute Morgen kälter als erwartet, deshalb "
           "sind wir im Haus geblieben und haben die Zeitung gelesen, "
           "während der Kaffee durchlief. Am Nachmittag gingen die "
           "Kinder mit ihren Freunden in die Bücherei, weil sie einige "
           "Bücher über die Geschichte der Stadt und die Menschen "
           "ausleihen wollten, die vor vielen Jahren dort gelebt "
           "haben. Man sagt oft, dass der beste Weg, etwas Neues zu "
           "lernen, darin besteht, es einem anderen zu erklären, und "
           "dass die Fragen wichtiger sind als die Antworten."),
    "fr": ("Le temps était plus froid que prévu ce matin, alors nous "
           "sommes restés à la maison pour lire le journal pendant que "
           "le café passait. Plus tard dans l'après-midi, les enfants "
           "sont allés à la bibliothèque avec leurs amis parce qu'ils "
           "voulaient emprunter des livres sur l'histoire de la ville "
           "et sur les gens qui y vivaient il y a de nombreuses "
           "années. On dit souvent que la meilleure façon d'apprendre "
           "quelque chose de nouveau est de l'expliquer à quelqu'un "
           "d'autre, et que les questions comptent plus que les "
           "réponses que nous croyons déjà connaître."),
    "es": ("Esta mañana el tiempo estaba más frío de lo que "
           "esperábamos, así que nos quedamos en casa leyendo el "
           "periódico mientras se preparaba el café. Por la tarde los "
           "niños fueron a la biblioteca con sus amigos porque querían "
           "pedir prestados algunos libros sobre la historia de la "
           "ciudad y de las personas que vivieron allí hace muchos "
           "años. Se dice a menudo que la mejor manera de aprender "
           "algo nuevo es explicárselo a otra persona, y que las "
           "preguntas importan más que las respuestas que creemos "
           "tener."),
    "it": ("Questa mattina il tempo era più freddo del previsto, così "
           "siamo rimasti in casa a leggere il giornale mentre il "
           "caffè si preparava. Nel pomeriggio i bambini sono andati "
           "in biblioteca con i loro amici perché volevano prendere in "
           "prestito alcuni libri sulla storia della città e delle "
           "persone che ci vivevano molti anni fa. Si dice spesso che "
           "il modo migliore per imparare qualcosa di nuovo sia "
           "spiegarlo a qualcun altro, e che le domande contino più "
           "delle risposte che pensiamo di avere già."),
    "pt": ("Esta manhã o tempo estava mais frio do que esperávamos, "
           "por isso ficámos em casa a ler o jornal enquanto o café "
           "passava. Mais tarde, os meninos foram à biblioteca com os "
           "seus amigos porque queriam pedir emprestados alguns livros "
           "sobre a história da cidade e das pessoas que ali viveram "
           "há muitos anos. Diz-se muitas vezes que a melhor maneira "
           "de aprender algo novo é explicá-lo a outra pessoa, e que "
           "as perguntas importam mais do que as respostas que "
           "julgamos já ter."),
    "nl": ("Het weer was vanochtend kouder dan we hadden verwacht, dus "
           "bleven we binnen en lazen we de krant terwijl de koffie "
           "doorliep. Later in de middag liepen de kinderen met hun "
           "vrienden naar de bibliotheek omdat ze een paar boeken "
           "wilden lenen over de geschiedenis van de stad en de mensen "
           "die daar vele jaren geleden woonden. Er wordt vaak gezegd "
           "dat de beste manier om iets nieuws te leren is het aan "
           "iemand anders uit te leggen, en dat de vragen belangrijker "
           "zijn dan de antwoorden die we denken te hebben."),
    "sv": ("Vädret var kallare i morse än vi hade väntat oss, så vi "
           "stannade inne och läste tidningen medan kaffet blev "
           "färdigt. Senare på eftermiddagen gick barnen till "
           "biblioteket med sina vänner eftersom de ville låna några "
           "böcker om stadens historia och om människorna som bodde "
           "där för många år sedan. Det sägs ofta att det bästa sättet "
           "att lära sig något nytt är att förklara det för någon "
           "annan, och att frågorna betyder mer än svaren vi tror att "
           "vi redan har."),
    "da": ("Vejret var koldere i morges end vi havde ventet, så vi "
           "blev inden døre og læste avisen, mens kaffen blev lavet. "
           "Senere på eftermiddagen gik børnene hen på biblioteket med "
           "deres venner, fordi de gerne ville låne nogle bøger om "
           "byens historie og om de mennesker, der boede der for mange "
           "år siden. Det siges ofte, at den bedste måde at lære noget "
           "nyt på er at forklare det for en anden, og at spørgsmålene "
           "betyder mere end de svar, vi tror, vi allerede har."),
    "pl": ("Dziś rano pogoda była chłodniejsza, niż się "
           "spodziewaliśmy, więc zostaliśmy w domu i czytaliśmy gazetę, "
           "podczas gdy parzyła się kawa. Po południu dzieci poszły z "
           "przyjaciółmi do biblioteki, ponieważ chciały wypożyczyć "
           "kilka książek o historii miasta i o ludziach, którzy "
           "mieszkali tam wiele lat temu. Często mówi się, że "
           "najlepszym sposobem nauczenia się czegoś nowego jest "
           "wytłumaczenie tego komuś innemu i że pytania znaczą więcej "
           "niż odpowiedzi, które już mamy."),
    "cs": ("Dnes ráno bylo počasí chladnější, než jsme čekali, a tak "
           "jsme zůstali doma a četli noviny, zatímco se vařila káva. "
           "Odpoledne šly děti s přáteli do knihovny, protože si "
           "chtěly půjčit několik knih o historii města a o lidech, "
           "kteří tam před mnoha lety žili. Často se říká, že nejlepší "
           "způsob, jak se naučit něco nového, je vysvětlit to někomu "
           "jinému, a že otázky znamenají víc než odpovědi, které už "
           "máme."),
    "ro": ("În această dimineață vremea a fost mai rece decât ne "
           "așteptam, așa că am rămas în casă și am citit ziarul în "
           "timp ce se făcea cafeaua. După-amiază copiii au mers la "
           "bibliotecă împreună cu prietenii lor pentru că voiau să "
           "împrumute câteva cărți despre istoria orașului și despre "
           "oamenii care au trăit acolo cu mulți ani în urmă. Se spune "
           "adesea că cel mai bun mod de a învăța ceva nou este să îl "
           "explici altcuiva și că întrebările contează mai mult decât "
           "răspunsurile pe care credem că le avem."),
    "fi": ("Sää oli tänä aamuna kylmempi kuin odotimme, joten jäimme "
           "sisälle lukemaan sanomalehteä sillä aikaa kun kahvi "
           "valmistui. Iltapäivällä lapset kävelivät ystäviensä kanssa "
           "kirjastoon, koska he halusivat lainata muutamia kirjoja "
           "kaupungin historiasta ja ihmisistä, jotka asuivat siellä "
           "monta vuotta sitten. Usein sanotaan, että paras tapa oppia "
           "jotain uutta on selittää se jollekin toiselle, ja että "
           "kysymykset merkitsevät enemmän kuin vastaukset, jotka "
           "luulemme jo tietävämme."),
    "hu": ("Ma reggel hidegebb volt az idő, mint vártuk, ezért bent "
           "maradtunk és újságot olvastunk, amíg a kávé elkészült. "
           "Délután a gyerekek a barátaikkal a könyvtárba mentek, mert "
           "néhány könyvet akartak kölcsönözni a város történetéről és "
           "azokról az emberekről, akik sok évvel ezelőtt ott éltek. "
           "Gyakran mondják, hogy a legjobb módja annak, hogy valami "
           "újat tanuljunk, ha elmagyarázzuk valaki másnak, és hogy a "
           "kérdések többet számítanak, mint a válaszok."),
    "tr": ("Bu sabah hava beklediğimizden daha soğuktu, bu yüzden "
           "içeride kaldık ve kahve demlenirken gazeteyi okuduk. "
           "Öğleden sonra çocuklar arkadaşlarıyla birlikte kütüphaneye "
           "gittiler, çünkü şehrin tarihi ve uzun yıllar önce orada "
           "yaşamış insanlar hakkında birkaç kitap ödünç almak "
           "istiyorlardı. Yeni bir şey öğrenmenin en iyi yolunun onu "
           "bir başkasına anlatmak olduğu ve soruların sahip "
           "olduğumuzu sandığımız cevaplardan daha önemli olduğu sık "
           "sık söylenir."),
    "ru": ("Сегодня утром погода была холоднее, чем мы ожидали, "
           "поэтому мы остались дома и читали газету, пока варился "
           "кофе. После обеда дети пошли с друзьями в библиотеку, "
           "потому что хотели взять несколько книг об истории города "
           "и о людях, которые жили там много лет назад. Часто "
           "говорят, что лучший способ научиться чему-то новому — это "
           "объяснить это кому-то другому, и что вопросы значат "
           "больше, чем ответы, которые у нас уже есть."),
    "uk": ("Сьогодні вранці погода була холоднішою, ніж ми очікували, "
           "тому ми залишилися вдома й читали газету, поки варилася "
           "кава. Після обіду діти пішли з друзями до бібліотеки, бо "
           "хотіли позичити кілька книжок про історію міста та про "
           "людей, які жили там багато років тому. Часто кажуть, що "
           "найкращий спосіб навчитися чогось нового — це пояснити це "
           "комусь іншому, і що запитання важать більше, ніж "
           "відповіді, які ми вже маємо."),
    # round-6 additions (verdict item 7: langid breadth) — authored
    # prose like the rest; 'no' is deliberately heavy on the spellings
    # that separate Bokmål from Danish (å/enn/noen/uken/kjøpe/hage)
    "no": ("Været var kaldere i dag tidlig enn vi hadde ventet, så vi "
           "ble inne og leste avisen mens kaffen ble ferdig. Senere på "
           "ettermiddagen gikk barna til biblioteket sammen med "
           "vennene sine fordi de ville låne noen bøker om byens "
           "historie og om menneskene som bodde der for mange år "
           "siden. Det sies ofte at den beste måten å lære noe nytt "
           "på, er å forklare det til noen andre, og at spørsmålene "
           "betyr mer enn svarene vi tror vi allerede har."),
    "id": ("Pagi ini udara lebih dingin daripada yang kami duga, jadi "
           "kami tetap di dalam rumah dan membaca koran sambil "
           "menunggu kopi selesai diseduh. Sore harinya anak-anak "
           "berjalan kaki ke perpustakaan bersama teman-teman mereka "
           "karena ingin meminjam beberapa buku tentang sejarah kota "
           "dan orang-orang yang tinggal di sana bertahun-tahun yang "
           "lalu. Orang sering berkata bahwa cara terbaik untuk "
           "mempelajari sesuatu yang baru adalah menjelaskannya "
           "kepada orang lain, dan bahwa pertanyaan lebih penting "
           "daripada jawaban yang kita kira sudah kita miliki."),
    "vi": ("Sáng nay trời lạnh hơn chúng tôi tưởng, nên cả nhà ở "
           "trong nhà đọc báo trong khi chờ cà phê pha xong. Buổi "
           "chiều bọn trẻ đi bộ đến thư viện cùng bạn bè vì muốn "
           "mượn vài cuốn sách về lịch sử thành phố và những người "
           "đã sống ở đó nhiều năm trước. Người ta thường nói rằng "
           "cách tốt nhất để học một điều mới là giải thích nó cho "
           "người khác, và những câu hỏi quan trọng hơn những câu "
           "trả lời mà chúng ta nghĩ mình đã có."),
}

# Second authored passage per language (market / cooking register —
# round-6 seed extension: two registers per language make the
# function-word trigram profiles markedly less topic-sensitive).
# build_profiles trains on SEED_CORPORA + this, concatenated.
SEED_CORPORA_2: Dict[str, str] = {
    "en": ("On Saturday we went to the market in the square to buy "
           "vegetables, bread and cheese for the week. The woman at "
           "the stall told us that the apples came from her own "
           "garden, and she gave the children a small basket of plums "
           "for free. In the evening we cooked a big pot of soup "
           "together, and while it simmered on the stove we sat at "
           "the kitchen table and played cards until it was time for "
           "dinner."),
    "de": ("Am Samstag gingen wir auf den Markt am Platz, um Gemüse, "
           "Brot und Käse für die Woche zu kaufen. Die Frau am Stand "
           "erzählte uns, dass die Äpfel aus ihrem eigenen Garten "
           "stammen, und sie schenkte den Kindern einen kleinen Korb "
           "Pflaumen. Am Abend kochten wir zusammen einen großen Topf "
           "Suppe, und während sie auf dem Herd köchelte, saßen wir "
           "am Küchentisch und spielten Karten, bis das Essen fertig "
           "war."),
    "fr": ("Le samedi, nous sommes allés au marché sur la place pour "
           "acheter des légumes, du pain et du fromage pour la "
           "semaine. La dame du stand nous a raconté que les pommes "
           "venaient de son propre jardin, et elle a offert aux "
           "enfants un petit panier de prunes. Le soir, nous avons "
           "préparé ensemble une grande marmite de soupe, et pendant "
           "qu'elle mijotait sur le feu, nous avons joué aux cartes à "
           "la table de la cuisine en attendant le dîner."),
    "es": ("El sábado fuimos al mercado de la plaza para comprar "
           "verduras, pan y queso para la semana. La mujer del puesto "
           "nos contó que las manzanas venían de su propio huerto, y "
           "les regaló a los niños una pequeña cesta de ciruelas. Por "
           "la noche preparamos juntos una gran olla de sopa, y "
           "mientras hervía en el fuego nos sentamos a la mesa de la "
           "cocina a jugar a las cartas hasta la hora de cenar."),
    "it": ("Sabato siamo andati al mercato in piazza per comprare "
           "verdura, pane e formaggio per la settimana. La signora "
           "del banco ci ha raccontato che le mele venivano dal suo "
           "giardino, e ha regalato ai bambini un piccolo cestino di "
           "prugne. La sera abbiamo preparato insieme una grande "
           "pentola di minestra, e mentre cuoceva sul fuoco ci siamo "
           "seduti al tavolo della cucina a giocare a carte fino "
           "all'ora di cena."),
    "pt": ("No sábado fomos ao mercado da praça comprar legumes, pão "
           "e queijo para a semana. A senhora da banca contou-nos que "
           "as maçãs vinham do seu próprio quintal, e ofereceu às "
           "crianças um pequeno cesto de ameixas. À noite preparámos "
           "juntos uma grande panela de sopa, e enquanto ela cozinhava "
           "no fogão sentámo-nos à mesa da cozinha a jogar às cartas "
           "até à hora do jantar."),
    "nl": ("Op zaterdag gingen we naar de markt op het plein om "
           "groente, brood en kaas voor de week te kopen. De vrouw "
           "bij de kraam vertelde ons dat de appels uit haar eigen "
           "tuin kwamen, en ze gaf de kinderen een klein mandje "
           "pruimen cadeau. 's Avonds kookten we samen een grote pan "
           "soep, en terwijl die op het fornuis stond te pruttelen, "
           "zaten we aan de keukentafel kaart te spelen tot het eten "
           "klaar was."),
    "sv": ("På lördagen gick vi till torget för att köpa grönsaker, "
           "bröd och ost för veckan. Kvinnan vid ståndet berättade "
           "att äpplena kom från hennes egen trädgård, och hon gav "
           "barnen en liten korg med plommon. På kvällen lagade vi "
           "tillsammans en stor gryta soppa, och medan den puttrade "
           "på spisen satt vi vid köksbordet och spelade kort tills "
           "maten var färdig."),
    "da": ("Om lørdagen gik vi på torvet for at købe grøntsager, brød "
           "og ost til ugen. Kvinden ved boden fortalte, at æblerne "
           "kom fra hendes egen have, og hun gav børnene en lille "
           "kurv med blommer. Om aftenen lavede vi sammen en stor "
           "gryde suppe, og mens den simrede på komfuret, sad vi ved "
           "køkkenbordet og spillede kort, indtil maden var færdig."),
    "no": ("På lørdag dro vi til torget for å kjøpe grønnsaker, brød "
           "og ost til hele uken. Kvinnen ved boden fortalte at "
           "eplene kom fra hennes egen hage, og hun ga barna en liten "
           "kurv med plommer. Om kvelden laget vi sammen en stor "
           "gryte suppe, og mens den kokte på komfyren satt vi ved "
           "kjøkkenbordet og spilte kort til maten var ferdig."),
    "pl": ("W sobotę poszliśmy na targ na rynku, żeby kupić warzywa, "
           "chleb i ser na cały tydzień. Kobieta przy straganie "
           "opowiedziała nam, że jabłka pochodzą z jej własnego "
           "ogrodu, i podarowała dzieciom mały koszyk śliwek. "
           "Wieczorem ugotowaliśmy razem wielki garnek zupy, a kiedy "
           "gotowała się na kuchence, siedzieliśmy przy kuchennym "
           "stole i graliśmy w karty, aż jedzenie było gotowe."),
    "cs": ("V sobotu jsme šli na trh na náměstí koupit zeleninu, "
           "chléb a sýr na celý týden. Žena u stánku nám vyprávěla, "
           "že jablka pocházejí z její vlastní zahrady, a dětem "
           "darovala malý košík švestek. Večer jsme spolu uvařili "
           "velký hrnec polévky, a zatímco se vařila na sporáku, "
           "seděli jsme u kuchyňského stolu a hráli karty, dokud "
           "nebylo jídlo hotové."),
    "ro": ("Sâmbătă am mers la piața din centru să cumpărăm legume, "
           "pâine și brânză pentru toată săptămâna. Femeia de la "
           "tarabă ne-a povestit că merele veneau din grădina ei, și "
           "le-a dăruit copiilor un coșuleț de prune. Seara am gătit "
           "împreună o oală mare de supă, și în timp ce fierbea pe "
           "aragaz am stat la masa din bucătărie și am jucat cărți "
           "până când mâncarea a fost gata."),
    "fi": ("Lauantaina menimme torille ostamaan vihanneksia, leipää "
           "ja juustoa koko viikoksi. Nainen kojulla kertoi, että "
           "omenat tulivat hänen omasta puutarhastaan, ja hän antoi "
           "lapsille pienen korillisen luumuja. Illalla keitimme "
           "yhdessä ison kattilan keittoa, ja sen kiehuessa liedellä "
           "istuimme keittiön pöydän ääressä pelaamassa korttia, "
           "kunnes ruoka oli valmista."),
    "hu": ("Szombaton kimentünk a piacra a térre, hogy zöldséget, "
           "kenyeret és sajtot vegyünk az egész hétre. A standnál az "
           "asszony elmesélte, hogy az almák a saját kertjéből "
           "származnak, és a gyerekeknek ajándékozott egy kis kosár "
           "szilvát. Este együtt főztünk egy nagy fazék levest, és "
           "amíg a tűzhelyen rotyogott, a konyhaasztalnál ültünk és "
           "kártyáztunk, amíg el nem készült az étel."),
    "tr": ("Cumartesi günü haftalık sebze, ekmek ve peynir almak için "
           "meydandaki pazara gittik. Tezgahtaki kadın elmaların "
           "kendi bahçesinden geldiğini anlattı ve çocuklara küçük "
           "bir sepet erik hediye etti. Akşam birlikte büyük bir "
           "tencere çorba pişirdik ve çorba ocakta kaynarken mutfak "
           "masasında oturup yemek hazır olana kadar kağıt oynadık."),
    "ru": ("В субботу мы пошли на рынок на площади, чтобы купить "
           "овощи, хлеб и сыр на всю неделю. Женщина у прилавка "
           "рассказала нам, что яблоки из её собственного сада, и "
           "подарила детям маленькую корзинку слив. Вечером мы "
           "вместе сварили большую кастрюлю супа, и пока он кипел на "
           "плите, мы сидели за кухонным столом и играли в карты, "
           "пока еда не была готова."),
    "uk": ("У суботу ми пішли на ринок на площі, щоб купити овочі, "
           "хліб і сир на цілий тиждень. Жінка біля прилавка "
           "розповіла нам, що яблука з її власного саду, і "
           "подарувала дітям маленький кошик слив. Увечері ми разом "
           "зварили велику каструлю супу, і поки він кипів на плиті, "
           "ми сиділи за кухонним столом і грали в карти, доки їжа "
           "не була готова."),
    "id": ("Pada hari Sabtu kami pergi ke pasar di alun-alun untuk "
           "membeli sayur, roti, dan keju untuk seminggu. Ibu penjual "
           "di kios bercerita bahwa apel itu berasal dari kebunnya "
           "sendiri, dan ia memberikan sekeranjang kecil buah plum "
           "kepada anak-anak. Malam harinya kami memasak sepanci "
           "besar sup bersama-sama, dan sementara sup itu mendidih di "
           "atas kompor, kami duduk di meja dapur bermain kartu "
           "sampai makanan siap."),
    "vi": ("Sáng thứ bảy chúng tôi ra chợ ở quảng trường để mua rau, "
           "bánh mì và phô mai cho cả tuần. Bà bán hàng kể rằng táo "
           "hái từ vườn nhà bà, và bà tặng bọn trẻ một giỏ mận nhỏ. "
           "Buổi tối cả nhà cùng nấu một nồi canh lớn, và trong khi "
           "nồi canh sôi trên bếp, chúng tôi ngồi ở bàn bếp chơi bài "
           "cho đến khi thức ăn chín."),
}

# script tier: (lang, [(lo, hi), ...]) — checked in THIS order; a block
# must hold >= half the letters to decide. ja/zh share Han and are
# split on kana presence inside _classify.
_HAN = ((0x3400, 0x4DBF), (0x4E00, 0x9FFF))
_KANA = ((0x3040, 0x309F), (0x30A0, 0x30FF))
SCRIPT_LANGS: List[Tuple[str, Tuple[Tuple[int, int], ...]]] = [
    ("ko", ((0x1100, 0x11FF), (0xAC00, 0xD7AF))),
    ("ar", ((0x0600, 0x06FF), (0x0750, 0x077F))),
    ("he", ((0x0590, 0x05FF),)),
    ("th", ((0x0E00, 0x0E7F),)),
    ("hi", ((0x0900, 0x097F),)),
    ("el", ((0x0370, 0x03FF),)),
]


# ASCII fast path: a 128-entry translate table is C-speed and agrees
# exactly with the per-char isalpha() comprehension on ASCII input —
# the overwhelming majority of crawl text after lowercasing
_ASCII_NORM = {i: " " for i in range(128)
               if not chr(i).isalpha()}


def _normalize(text: str, sample_chars: int = SAMPLE_CHARS) -> str:
    s = text[:sample_chars].lower()
    if s.isascii():
        return s.translate(_ASCII_NORM)
    return "".join(ch if ch.isalpha() else " " for ch in s)


def _trigram_counts(norm: str) -> Counter:
    c = Counter(norm[i:i + 3] for i in range(len(norm) - 2))
    c.pop("   ", None)
    return c


def build_profiles(
        corpora: Dict[str, str] | None = None,
        profile_size: int = PROFILE_SIZE) -> Dict[str, Dict[str, int]]:
    """lang -> {trigram: integer rank weight}. Deterministic: trigrams
    ordered by (count desc, trigram asc); weight = profile_size - rank.
    Integer weights keep scores exactly replicable in SQL. Default
    training text per language is SEED_CORPORA + SEED_CORPORA_2
    concatenated (two registers)."""
    if corpora is None:
        corpora = {lang: text + " " + SEED_CORPORA_2.get(lang, "")
                   for lang, text in SEED_CORPORA.items()}
    profiles = {}
    for lang, text in corpora.items():
        counts = _trigram_counts(_normalize(text, sample_chars=10 ** 9))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        profiles[lang] = {t: profile_size - r
                          for r, (t, _) in enumerate(top[:profile_size])}
    return profiles


def _inverted(profiles: Dict[str, Dict[str, int]]):
    langs = sorted(profiles)
    index: Dict[str, List[Tuple[int, int]]] = {}
    for li, lang in enumerate(langs):
        for tg, w in profiles[lang].items():
            index.setdefault(tg, []).append((li, w))
    return langs, index


def _count_in_blocks(norm: str, blocks) -> int:
    return sum(1 for ch in norm
               for lo, hi in blocks if lo <= ord(ch) <= hi)


def _classify(text, langs, index, sample_chars) -> Tuple[str, int]:
    if text is None:
        return "und", 0
    norm = _normalize(text, sample_chars)
    n_letters = len(norm) - norm.count(" ")
    if n_letters == 0:
        return "und", 0
    if not norm.isascii():
        # script tiers only exist above U+0370 — pure-ASCII text
        # (the common crawl case) skips every per-char block scan
        han = _count_in_blocks(norm, _HAN)
        kana = _count_in_blocks(norm, _KANA)
        if 2 * (han + kana) >= n_letters:
            return ("ja", han + kana) if kana > 0 else ("zh", han)
        for lang, blocks in SCRIPT_LANGS:
            n = _count_in_blocks(norm, blocks)
            if 2 * n >= n_letters:
                return lang, n
    scores = [0] * len(langs)
    for tg, cnt in _trigram_counts(norm).items():
        for li, w in index.get(tg, ()):
            scores[li] += cnt * w
    best = max(scores)
    if best <= 0:
        return "und", 0
    return langs[scores.index(best)], best  # ties: smallest lang code


_DEFAULT_MODEL = None


def _default_model():
    """(langs, inverted index) for the embedded seed corpora, built
    once per process and cached (review r05a: rebuilding per call
    re-counted every seed corpus's trigrams)."""
    global _DEFAULT_MODEL
    if _DEFAULT_MODEL is None:
        _DEFAULT_MODEL = _inverted(build_profiles())
    return _DEFAULT_MODEL


def classify_text(text: str,
                  sample_chars: int = SAMPLE_CHARS) -> Tuple[str, int]:
    """Single-string entry point (tests, driver-side probes)."""
    langs, index = _default_model()
    return _classify(text, langs, index, sample_chars)


def lang_id_udf(sample_chars: int = SAMPLE_CHARS):
    """lang_id_model's kernel as a column function: text -> struct."""
    langs, index = _default_model()

    @F.pandas_udf("struct<lang:string, lang_score:bigint>")
    def lang_udf(texts: pd.Series) -> pd.DataFrame:
        from .util import worker_runtime_tune
        worker_runtime_tune()
        out = [_classify(t, langs, index, sample_chars) for t in texts]
        return pd.DataFrame(out, columns=["lang", "lang_score"])
    return lang_udf


def lang_id_model(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  sample_chars: int = SAMPLE_CHARS) -> DataFrame:
    """(doc_id, lang, lang_score): trigram-profile + script-tier model.

    Map-only: one Arrow-batched pandas UDF, the inverted profile index
    in the closure (~100 KB for the embedded seeds — dims this small
    ride in closures; a retrained model of MBs should move to
    ``sparkContext.broadcast``). No shuffle, no explode: at 100 TB the
    cost is one pass over the sampled prefix of each document."""
    from .util import ensure_parallelism

    d = ensure_parallelism(docs)
    res = d.select(F.col(id_col),
                   lang_id_udf(sample_chars)(F.col(text_col)).alias("r"))
    return res.select(id_col, F.col("r.lang").alias("lang"),
                      F.col("r.lang_score").alias("lang_score"))
